"""The distributed crawl loop: level-synchronous supersteps over
snapshot-versioned state tables.

Each superstep is 6-7 Spark jobs (statusTracker counts on the
perfbench workloads), plus one parquet write per table per commit:

    2-3  step      admission (per-host cap: keyed window over a literal
                   budget map, only when a budget can bind; exact
                   parallel global top-K, plans.rank) as AQE query
                   stages, then the step checkpoint: fetch join (corpus
                   never shuffles) → ONE fused Arrow UDF (robots gate +
                   extraction + link prep) → outcome; counters and the
                   ok / backed-off host sets are observed on it
    4    frontier  candidate explode → filter/score → hash-keyed dedup
                   + seen anti-join (8-byte keys, broadcast or shuffled
                   by frontier size) + batch removal → trim/seq
                   (arithmetic, windowless) → merge checkpoint

Driver cost per superstep is kept to what the loop state needs:
- rows built on the driver (the seed frontier, the empty docs,
  crawl_log and page-cache bases) enter as JVM local relations
  (`local_relation`), never as a PythonRDD, so no scan of them starts
  Python workers; the seed frontier is one partition, so superstep
  1's rank windows need no exchange;
- every Column a superstep uses that loop state does not change is
  built once per engine (`_superstep_columns`); per superstep only
  the iteration literals, the host budget/delay maps, the global
  budget and BFS level filters and the fairness column are built.  A deep_frontier
  crawl makes ~1.6k py4j round trips instead of ~10.5k.

State design: ONE frontier table subsumes the URL-seen set — every
discovered URL keeps a row forever (status pending/done/failed/
trimmed), so "seen" ≡ frontier.url and the seen anti-join is against
the frontier itself.  The anti-join ships ONLY xxhash64 keys from the
frontier side (hash equality is treated as URL identity: at 10^10
URLs the expected number of colliding 64-bit pairs is ~0.003, and a
collision degrades to one URL never being crawled — the same error
class the reference's bloom-filter traversal accepts at 1% FP,
deep_crawling/crazy.py:53).  This anti-join is the ONE seen-set path:
it broadcasts the frontier's hashes while the frontier is small
(_BCAST_SEEN_MAX) and shuffles both sides on the hash beyond that.

seq is arithmetic — (iteration << 40) | (batch_rank << 16) |
link_pos — monotone in discovery order with NO global window; the
capacity trim uses plans.rank.with_global_rank (exact, parallel) and
is skipped whenever the driver-known link upper bound proves it
cannot bind.  Ordering parity with the reference is deterministic:
(score, depth, seq) priority, no timestamps.

Scale notes (10^10 frontier, 1000 executors):
- the pages-corpus join streams the corpus through a broadcast semi
  probe; the corpus itself never shuffles, only the admitted batch;
- per-superstep shuffle of the frontier is O(n) 8-byte hashes (the
  seen anti-join's frontier side, once past the broadcast shortcut);
- host backoff state and robots rules live driver-side (a dict
  updated from the host sets observed on the step checkpoint, and the
  rules map in the fused UDF's closure), so both are bounded by driver
  memory;
- the fused UDF means one Python worker per task, and the explicit
  repartition before it pins the stage width to the configured
  parallelism (AQE's advisory-size coalescing would otherwise shrink
  an html-heavy 200 MB batch to ~4 tasks).

Parity oracle: crawl4ai_spark.testing.simulator implements identical
semantics sequentially; tests assert equality of admitted sets, crawl
order, seen set, docs spans, host-state trajectories and terminal
frontier status.  Reference anchors: BFS level loop
bfs_strategy.py:142-192, best-first bff_strategy.py:129-213, rate
limiter async_dispatcher.py:28-85, robots gate
async_webcrawler.py:318-331.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from types import SimpleNamespace

import pandas as pd
from pyspark.storagelevel import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from crawl4ai_spark.extraction.udfs import EXTRACT_RESULT, extract_one
from crawl4ai_spark.functions.specs import compile_filters_column, compile_scorer_column
from crawl4ai_spark.functions.filters import valid_crawl_url
from crawl4ai_spark.functions.urlnorm import canonicalize_for_crawl, get_host, is_valid_crawl_url
from crawl4ai_spark.plans.config import BACKOFF_CODES, CrawlConfig
from crawl4ai_spark.plans.rank import with_bucketed_rank, with_global_rank
from crawl4ai_spark.plans.state import SnapshotStore

# seq bit budget: 23 bits iteration | 24 bits batch_rank | 16 bits
# link_pos, i.e. ≤16.7M admissions/superstep and ≤65k links/page
# (beyond-cap link positions clamp, which can only merge the ordering
# of two links of one pathological page).
_SEQ_ITER_SHIFT = 40
_SEQ_RANK_SHIFT = 16
_SEQ_POS_MAX = (1 << 16) - 1

# COLUMNAR output layout: nested values return as PARALLEL PRIMITIVE
# ARRAYS, not arrays of structs.  Arrow conversion of list<primitive>
# columns is a straight buffer build; list<struct-of-dict> columns
# traverse every python dict and were the measured bottleneck
# (~20 s/task of "time to run Python workers" spent converting the
# output at 30k-page supersteps).  The JVM zips them back into the
# span/link structs with arrays_zip — whole-stage-codegen, ~free.
# The raw links/media arrays of EXTRACT_RESULT are NOT returned:
# nothing downstream of the crawl loop reads them (plinks supersedes
# links; media is already folded into the spans).
STEP_EX = StructType(
    [
        StructField("success", BooleanType()),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField("span_kinds", ArrayType(StringType())),
        StructField("span_texts", ArrayType(StringType())),
        StructField("span_refs", ArrayType(StringType())),
        StructField("span_offsets", ArrayType(IntegerType())),
        StructField("raw_markdown", StringType()),
        StructField("markdown_with_citations", StringType()),
        StructField("references_markdown", StringType()),
        StructField("robots_ok", BooleanType()),
        StructField("pl_pos", ArrayType(IntegerType())),
        StructField("pl_abs", ArrayType(StringType())),
        StructField("pl_canon", ArrayType(StringType())),
        StructField("pl_host", ArrayType(StringType())),
    ]
)


def spans_struct(ex) -> "F.Column":
    """Rebuild array<struct<kind,text,media_ref,offset>> from the
    columnar span arrays — native arrays_zip, zero Python."""
    return F.arrays_zip(
        ex["span_kinds"].alias("kind"),
        ex["span_texts"].alias("text"),
        ex["span_refs"].alias("media_ref"),
        ex["span_offsets"].alias("offset"),
    )


def _host_lookup(values: dict[str, object], default, value_type: str) -> "F.Column":
    """`values[host]`, else `default`: a literal map in the plan, no
    join and no job.  One JSON literal, folded into the map by the
    optimizer (an F.lit per entry costs ~1.7 ms/host of py4j calls)."""
    if not values:
        return F.lit(default).cast(value_type)
    lookup = F.from_json(F.lit(json.dumps(values)), f"map<string,{value_type}>")
    return F.coalesce(F.element_at(lookup, F.col("host")), F.lit(default).cast(value_type))


def local_relation(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-built `rows` (tuples in `schema` order) as a JVM local
    relation, with no Python RDD in its lineage.

    `createDataFrame(<list>)` plans as a Scan ExistingRDD over a
    PythonRDD, so every scan of it starts Python workers just to
    unpickle the rows (0.13-0.16 s to count 512 seeds at local[2],
    against 0.03-0.05 s here).  Rows cross once, as Arrow, and plan as
    a LocalTableScan.  They are one partition: a global rank window
    over them then needs no exchange (with the row count known and at
    or under a rank limit, the optimizer drops the limit whose sort
    otherwise gathers the rows without one, and the window plans an
    Exchange SinglePartition: one more job).  An empty pandas frame or
    RDD still carries a PythonRDD, so the empty relation is a
    typed-null row filtered out: the optimizer folds it to an empty
    LocalRelation, which a union drops."""
    if rows:
        pdf = pd.DataFrame(rows, columns=schema.names)
        return spark.createDataFrame(pdf, schema).coalesce(1)
    return (
        spark.range(1)
        .selectExpr(*[f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                      for f in schema.fields])
        .where("false")
    )


def make_step_udf(robots_map: dict[str, str] | None, user_agent: str,
                  markdown_dialect: str = "house"):
    """ONE fused Arrow UDF for all per-page Python work: the fetch
    robots gate, scrape→markdown→spans extraction, and per-link
    resolution/canonicalization/robots prep.

    Fusing matters twice over: every separate pandas UDF in a stage is
    its own ArrowEvalPython node with its own Python worker per task
    (three chained UDFs at 32 tasks ≈ 96 concurrent Python processes),
    and separate nodes pay Arrow serialization of the ~9 KB html per
    hop.  One node, one worker, one transfer.

    Robots gate (J4): robots_map is the collected (host → rules) dim,
    held in the UDF's closure (None = no gate).  The UDF gates BOTH the
    page fetch and every discovered link, with one parser per host.
    """
    from crawl4ai_spark.sources.robots import build_parser

    @pandas_udf(STEP_EX)
    def step_udf(
        url: pd.Series, host: pd.Series, final_url: pd.Series,
        html: pd.Series, eff_status: pd.Series,
    ) -> pd.DataFrame:
        parsers: dict[str, object] = {}

        def allowed(u: str, h: str | None) -> bool:
            if robots_map is None or not h:
                return True
            rules = robots_map.get(h)
            if not rules or not rules.strip():
                return True
            p = parsers.get(h)
            if p is None:
                p = build_parser(rules)
                parsers[h] = p
            return bool(p.can_fetch(user_agent, u))

        from urllib.parse import urljoin

        cols: dict[str, list] = {f.name: [] for f in STEP_EX.fields}

        def emit(success, metadata, kinds, texts, refs, offsets, raw, cited,
                 refs_md, ok, pl_pos, pl_abs, pl_canon, pl_host):
            cols["success"].append(success)
            cols["metadata"].append(metadata)
            cols["span_kinds"].append(kinds)
            cols["span_texts"].append(texts)
            cols["span_refs"].append(refs)
            cols["span_offsets"].append(offsets)
            cols["raw_markdown"].append(raw)
            cols["markdown_with_citations"].append(cited)
            cols["references_markdown"].append(refs_md)
            cols["robots_ok"].append(ok)
            cols["pl_pos"].append(pl_pos)
            cols["pl_abs"].append(pl_abs)
            cols["pl_canon"].append(pl_canon)
            cols["pl_host"].append(pl_host)

        for u, h, fu, htm, st in zip(url, host, final_url, html, eff_status):
            ok = allowed(u, h)
            if not ok or st != 200 or not isinstance(htm, str):
                emit(False, {}, [], [], [], [], "", "", "", ok, [], [], [], [])
                continue
            ex = extract_one(u, htm, markdown_dialect)
            kinds, texts, refs, offsets = [], [], [], []
            for s in ex["spans"]:
                kinds.append(s["kind"])
                texts.append(s["text"])
                refs.append(s["media_ref"])
                offsets.append(s["offset"])
            pl_pos, pl_abs, pl_canon, pl_host = [], [], [], []
            for pos, link in enumerate(ex["links"]):
                href = link["href"]
                if not isinstance(href, str):
                    continue
                canon = canonicalize_for_crawl(href, fu)
                if not canon:
                    continue
                lh = get_host(canon)
                if not allowed(canon, lh):
                    continue
                pl_pos.append(min(pos, _SEQ_POS_MAX))
                pl_abs.append(urljoin(fu, href.strip()))
                pl_canon.append(canon)
                pl_host.append(lh)
            emit(True, ex["metadata"], kinds, texts, refs, offsets,
                 ex["raw_markdown"], ex["markdown_with_citations"],
                 ex["references_markdown"], True, pl_pos, pl_abs, pl_canon, pl_host)
        return pd.DataFrame(cols)

    return step_udf


@dataclass
class CrawlState:
    """Driver-side loop state (persisted in the store manifest)."""
    iteration: int = 0
    next_seq: int = 0
    pages_crawled: int = 0
    host_state: dict[str, tuple[float, int]] = field(default_factory=dict)
    # upper bound on frontier rows (seeds + every link ever emitted):
    # drives the small-N plan shortcuts (single-task rank window,
    # broadcast seen anti-join) — an overestimate only switches to the
    # scalable plan early, never changes results
    frontier_ub: int = 0
    # exact count of status=pending rows in the current frontier
    # checkpoint (observed on the merge job); None = unknown (seed
    # frontier / resumed run).  When 0, the next superstep's entire
    # admission+fetch job is provably empty and is skipped.
    pending_count: int | None = None
    # BFS level (O2): min depth over pending rows, observed on the
    # SAME merge job as pending_count — the level filter then needs
    # no per-superstep min(depth) collect.  None = unknown (resumed
    # run) → one fallback agg re-derives it.
    min_pending_depth: int | None = None


# small-N plan shortcuts: below these driver-tracked bounds the
# single-task / broadcast variants beat the scalable ones (each saves
# 2-3 AQE stage waves of fixed driver latency per superstep)
_SMALL_PENDING_MAX = 1 << 16          # rank window: sort ≤64k skinny rows
_BCAST_SEEN_MAX = 1 << 19             # anti-join: broadcast ≤512k hashes (~4MB);
                                      # beyond that the driver round-trip of the
                                      # broadcast build costs more than the
                                      # parallel hash-shuffle anti-join


@dataclass
class CrawlResultTables:
    frontier: DataFrame    # live rows only (status != trimmed)
    seen: DataFrame        # (url, url_hash, first_iter) view
    docs: DataFrame
    crawl_log: DataFrame
    state: CrawlState


class CrawlEngine:
    """Iterative distributed crawler over a pages source table.

    `pages` must be a materialized source (parquet-backed or cached):
    it is joined every iteration.  `robots` is a small dim table
    (host, rules), collected into the fused UDF's closure."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        pages: DataFrame,
        robots: DataFrame | None = None,
        store: SnapshotStore | None = None,
        checkpoint_every: int = 1,
        verbose_timing: bool = False,
        transport_factory=None,
        transport_cache_key: str | None = None,
        pace_fetch: bool = False,
        page_cache: DataFrame | None = None,
        cache_mode=None,
        link_score_fn=None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self._n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # Co-partition the corpus by url ONCE: the per-iteration fetch
        # join then shuffles only the (tiny) batch side — the cached
        # InMemoryRelation exposes HashPartitioning(url) to Catalyst,
        # so the corpus side never exchanges again.  (At production
        # scale this is the bucketed-storage / storage-partitioned-
        # join analogue; the synthetic corpus stands in for it.)
        # The fetch seam (S5): with a transport_factory the per-
        # iteration fetch is a pandas UDF over the admitted batch
        # (sources.fetch — synthetic dict, stdlib urllib, or aiohttp
        # transports share the interface); without one, the synthetic
        # corpus join below stands in.
        self._fetch_udf = None
        self._pace_fetch = bool(pace_fetch)
        self.pages = pages
        if transport_factory is not None:
            if self._pace_fetch:
                # P1 variant b: wall-clock same-host spacing INSIDE the
                # fetch UDF (reference RateLimiter.wait_if_needed,
                # async_dispatcher.py:45-63) — the UDF takes the
                # per-host delay column: the live backoff/decay delay.
                from crawl4ai_spark.sources.fetch import make_paced_fetch_udf

                self._fetch_udf = make_paced_fetch_udf(
                    transport_factory, cache_key=transport_cache_key
                )
            else:
                from crawl4ai_spark.sources.fetch import make_fetch_udf

                self._fetch_udf = make_fetch_udf(
                    transport_factory, cache_key=transport_cache_key
                )
            self.pages_eff = None
        else:
            p = pages.select("url", "status_code", "redirect_to", "html")
            # Pre-resolve the one-hop redirect target ONCE: the per-
            # iteration plan then needs a single fetch join instead of
            # a second corpus scan per superstep.  Redirect targets are
            # a small slice of the corpus → broadcast; non-redirect
            # rows never shuffle (a plain left join on redirect_to
            # would hash every null key into one partition).
            rt_targets = p.join(
                F.broadcast(
                    p.filter((F.col("status_code") == 301) & F.col("redirect_to").isNotNull())
                    .select(F.col("redirect_to").alias("rt_url"))
                    .distinct()
                ),
                p.url == F.col("rt_url"),
                "left_semi",
            ).select(
                F.col("url").alias("rt_url"),
                F.col("status_code").alias("rt_status"),
                F.col("html").alias("rt_html"),
            )
            pages_eff = p.join(
                F.broadcast(rt_targets), F.col("redirect_to") == F.col("rt_url"), "left"
            ).drop("rt_url")
            self.pages_eff = pages_eff.repartition(self._n_parts, "url").persist()
        self.robots = robots
        self.store = store
        self.checkpoint_every = checkpoint_every
        self.verbose_timing = verbose_timing
        # J4 robots gate: the (host → rules) dim is collected into the
        # fused UDF's closure
        robots_map = None
        if cfg.respect_robots and robots is not None:
            robots_map = {
                r["host"]: r["rules"]
                for r in robots.select("host", "rules").collect()
            }
        self._step_udf = make_step_udf(
            robots_map, cfg.user_agent, markdown_dialect=cfg.markdown_dialect,
        )
        self.link_score_fn = link_score_fn
        if cfg.mode == "best_first":
            # reference min-heap: lower score first, FIFO tiebreak
            self._order = [F.asc("score"), F.asc("depth"), F.asc("seq")]
        elif cfg.mode == "dfs":
            # LIFO stack order (dfs_strategy.py:27-66): one pop per
            # iteration ⇒ anything enqueued later pops first, and
            # same-iteration siblings pop first-discovered-first (the
            # reference pushes reversed).  (enqueue_iter desc, seq asc)
            # reproduces the stack exactly; run with global_budget=1
            # for strict reference DFS, >1 for batched DFS.
            self._order = [F.desc("enqueue_iter"), F.asc("seq")]
        else:
            self._order = [F.asc("seq")]
        # page-cache modes (S10/J3, plans.cache): ENABLED/READ_ONLY
        # short-circuit the fetch for cached URLs; ENABLED/WRITE_ONLY
        # upsert fetched pages back (two extra jobs per iteration,
        # only when caching is on)
        from crawl4ai_spark.plans.cache import CacheMode, should_read, should_write

        self.cache_mode = cache_mode or CacheMode.BYPASS
        if page_cache is None and self.cache_mode not in (CacheMode.BYPASS, CacheMode.DISABLED):
            page_cache = local_relation(spark, [], StructType.fromDDL(
                "url string, final_url string, status_code int, html string, fetched_at_iter int"
            ))
        self.page_cache = page_cache
        # fixed per engine: a superstep only ever replaces a page cache
        # that exists
        self._read_cache = page_cache is not None and should_read(self.cache_mode)
        self._write_cache = page_cache is not None and should_write(self.cache_mode)
        self._frontier_schema = StructType.fromDDL(self._FRONTIER_COLS)
        self._empty_docs = local_relation(spark, [], StructType.fromDDL(self._DOCS_COLS))
        self._empty_log = local_relation(spark, [], StructType.fromDDL(self._LOG_COLS))
        self._cols = self._superstep_columns()

    # ── schema helpers ───────────────────────────────────────────────
    # status domain: pending | done | failed | trimmed.  "trimmed"
    # rows ARE the seen-but-never-enqueued URLs (capacity trim); they
    # make frontier ⊇ seen so no separate seen table exists.
    _FRONTIER_COLS = "url string, url_hash long, host string, depth int, score double, parent_url string, seq long, status string, retry_count int, enqueue_iter int"
    _DOCS_COLS = (
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "raw_markdown string, markdown_with_citations string, references_markdown string, "
        "metadata map<string,string>, iteration int"
    )
    _LOG_COLS = "iteration int, url string, depth int, score double, parent_url string, seq long, outcome string, batch_rank int"

    def _superstep_columns(self) -> SimpleNamespace:
        """Every Column a superstep uses that no loop state changes,
        built once per engine.  Each F.* call or Column operator is ~13
        py4j round trips (PySpark 4 records its call site) of ~57 µs;
        built per superstep they cost 0.55-0.65 s per deep_frontier
        crawl.  What depends on loop state (iteration literals, the
        host budget and delay maps, the global budget and BFS level,
        fairness) is built in `_iterate`, as are the columns of the
        paths few crawls take (salting, the bucketed rank past
        _SMALL_PENDING_MAX, the capacity trim)."""
        cfg = self.cfg
        col = F.col
        frontier_names = self._frontier_schema.names
        c = SimpleNamespace()
        c.url_hash = F.xxhash64("url")
        c.is_pending = col("status") == "pending"
        c.depth = col("depth")
        c.enqueue_iter = col("enqueue_iter")
        c.retry_count = col("retry_count")

        # ── admission ─────────────────────────────────────────────────
        # O5 fairness aging ranks first on `_fair` (built per superstep)
        c.order = list(self._order)
        if cfg.fairness_timeout_iters is not None:
            c.order = [F.asc("_fair")] + c.order
        c.host_rank = F.row_number().over(Window.partitionBy("host").orderBy(*c.order))
        c.within_host_budget = col("host_rank") <= col("budget")
        c.small_rank = F.row_number().over(Window.orderBy(*c.order))
        c.batch_rank = col("batch_rank")
        c.batch_rank_int = col("batch_rank").cast("int")

        # ── fetch ─────────────────────────────────────────────────────
        batch_cols = [col(n) for n in (*frontier_names, "batch_rank")]
        hit = col("cache_hit") if self._read_cache else F.lit(False)

        def cache_or(cached_expr, live_expr):
            # only reference c_* columns when the cache join added them
            if not self._read_cache:
                return live_expr
            return F.when(hit, cached_expr).otherwise(live_expr)

        if self._fetch_udf is not None:
            # (host, salt): host-locality for the transport's connection
            # reuse, salted so a hot host can't serialize the stage
            c.fetch_partition = [
                col("host"),
                F.pmod(F.coalesce("url_hash", F.lit(0)), F.lit(4 * self._n_parts)),
            ]
            # cache hits pass a null URL so the transport never fires
            # for them (J3 cache-hit skip)
            c.fetch_url = F.when(~hit, col("url"))
            c.fetch_call = None if self._pace_fetch else self._fetch_udf(c.fetch_url)
            c.fetched_cols = [
                *batch_cols,
                cache_or(col("c_status"),
                         F.coalesce(col("_fr.status_code"), F.lit(0))).alias("eff_status"),
                cache_or(col("c_html"), col("_fr.html")).alias("eff_html"),
                cache_or(F.coalesce("c_final_url", "url"),
                         F.coalesce(col("_fr.final_url"), col("url"))).alias("final_url"),
            ]
        else:
            is_redirect = (col("status_code") == 301) & col("redirect_to").isNotNull()
            c.fetched_cols = [
                *batch_cols,
                cache_or(
                    col("c_status"),
                    F.when(is_redirect, F.coalesce("rt_status", F.lit(0)))
                    .otherwise(F.coalesce("status_code", F.lit(0))),
                ).alias("eff_status"),
                cache_or(
                    col("c_html"),
                    F.when(is_redirect, col("rt_html")).otherwise(col("html")),
                ).alias("eff_html"),
                cache_or(
                    F.coalesce("c_final_url", "url"),
                    F.when(is_redirect, col("redirect_to")).otherwise(col("url")),
                ).alias("final_url"),
            ]
        c.cache_cols = [col("url"), col("final_url"), col("eff_status"), col("eff_html")]

        # ── step: fused UDF → outcome, observed on the checkpoint ─────
        c.step_cols = [
            *batch_cols, col("eff_status"), col("final_url"),
            self._step_udf(
                col("url"), col("host"), col("final_url"),
                col("eff_html"), col("eff_status"),
            ).alias("ex"),
        ]
        backoff = col("eff_status").isin(list(BACKOFF_CODES))
        c.outcome = (
            F.when(~col("ex.robots_ok"), F.lit("robots_blocked"))
            .when(col("eff_status") == 200, F.lit("success"))
            .when(backoff & (col("retry_count") < cfg.max_retries), F.lit("retry"))
            .when(backoff, F.lit("gave_up"))
            .otherwise(F.lit("fetch_error"))
        )
        is_success = col("outcome") == "success"
        is_retry = col("outcome") == "retry"
        c.is_success = is_success
        # counters and the succeeded / backed-off host sets (at most
        # the batch's distinct hosts) ride the checkpoint job: no job
        c.step_aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_success, 1).otherwise(0)).alias("ok"),
            F.sum(F.coalesce(F.size("ex.pl_pos"), F.lit(0))).alias("n_links"),
            F.collect_set(F.when(is_success, col("host"))).alias("ok_hosts"),
            F.collect_set(
                F.when(col("outcome").isin("retry", "gave_up"), col("host"))
            ).alias("bad_hosts"),
        ]
        c.docs_cols = [
            col("url").alias("doc_id"),
            spans_struct(col("ex")).cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ).alias("spans"),
            col("ex.raw_markdown").alias("raw_markdown"),
            col("ex.markdown_with_citations").alias("markdown_with_citations"),
            col("ex.references_markdown").alias("references_markdown"),
            col("ex.metadata").alias("metadata"),
        ]
        c.log_cols = [col(n) for n in
                      ("url", "depth", "score", "parent_url", "seq", "outcome", "batch_rank")]

        # ── link discovery → scored candidate set (SURVEY §3.3) ───────
        c.can_expand = is_success & (col("depth") + 1 <= cfg.max_depth)
        c.link_explode = [
            col("url").alias("parent_url"),
            col("batch_rank"),
            (col("depth") + 1).alias("depth"),
            F.explode(
                F.arrays_zip(
                    col("ex.pl_pos").alias("link_pos"),
                    col("ex.pl_abs").alias("abs_url"),
                    col("ex.pl_canon").alias("canon"),
                    col("ex.pl_host").alias("host"),
                )
            ).alias("l"),
        ]
        c.link_cols = [
            col("parent_url"), col("batch_rank"), col("depth"),
            col("l.link_pos").alias("link_pos"),
            col("l.abs_url").alias("abs_url"),
            col("l.canon").alias("canon"),
            col("l.host").alias("host"),
        ]
        c.valid_link = valid_crawl_url(col("abs_url"))
        c.link_filter = compile_filters_column(cfg.filters, col("abs_url")) if cfg.filters else None
        c.link_score = compile_scorer_column(cfg.scorer, col("canon")).cast("double")
        c.above_threshold = col("score") >= cfg.score_threshold
        c.link_hash = F.xxhash64("canon")
        # within-iteration dedup keeps the first discovery of each hash:
        # (batch_rank, link_pos) is unique per link row, so min_by is
        # deterministic.  A link_score_fn must keep these columns; any
        # it adds are dropped here, as new entries never read them.
        c.first_link = F.min_by(
            F.struct(*[col(n) for n in ("parent_url", "batch_rank", "depth", "link_pos",
                                        "abs_url", "canon", "host", "score")]),
            F.struct("batch_rank", "link_pos"),
        ).alias("_first")
        c.deduped_cols = [col("ch"), col("_first.*")]
        c.seen_hash = col("url_hash").alias("ch")
        # seq: (iteration << 40) + this tail — monotone in discovery
        # order, windowless (O9)
        c.seq_tail = (
            F.shiftleft(col("batch_rank").cast("long"), _SEQ_RANK_SHIFT)
            + col("link_pos").cast("long")
        )
        c.entry_cols = [
            col("canon").alias("url"), col("ch").alias("url_hash"), col("host"),
            col("depth"), col("score"), col("parent_url"),
            F.lit("pending").alias("status"), F.lit(0).alias("retry_count"),
        ]
        c.fresh_aggs = [F.count(F.lit(1)).alias("n_fresh")]

        # ── frontier merge ────────────────────────────────────────────
        c.frontier_cols = [col(n) for n in frontier_names]
        c.updated_cols = [
            *[col(n) for n in frontier_names[:7]],  # url … seq pass through
            F.when(is_success, F.lit("done"))
            .when(is_retry, F.lit("pending"))
            .otherwise(F.lit("failed")).alias("status"),
            F.when(is_retry, col("retry_count") + 1)
            .otherwise(col("retry_count")).alias("retry_count"),
            col("enqueue_iter"),
        ]
        c.url = col("url")
        c.frontier_aggs = [
            F.sum(F.when(c.is_pending, 1).otherwise(0)).alias("n_pending"),
            F.min(F.when(c.is_pending, col("depth"))).alias("min_pending_depth"),
        ]
        c.is_live = col("status") != "trimmed"
        c.seen_cols = [col("url"), col("url_hash"), col("enqueue_iter").alias("first_iter")]
        return c

    def prewarm(self) -> None:
        """Materialize the synthetic-corpus lookup structure (the
        redirect-resolved, url-hash-partitioned `pages_eff` cache)
        ahead of the first superstep.

        In corpus-join mode the corpus stands in for the network: a
        production crawl fetches through the transport UDF and has no
        corpus to pre-shuffle, so this one-time fixture cost is setup,
        not crawl work.  Benchmarks call this before starting the
        crawl clock; correctness is unaffected (the same cache would
        otherwise materialize lazily inside superstep 1's fetch join).
        """
        if self.pages_eff is not None:
            self.pages_eff.count()
        # Warm the Python UDF workers: one tiny job through the fused
        # step UDF forks the worker pool, imports crawl4ai_spark in
        # each worker, and sets up the Arrow transport — the executor-
        # provisioning analogue (a cluster pays it at executor launch,
        # not per crawl).  Without this, superstep 1 absorbs ~5-20 s
        # of one-time worker spawn/import/JIT inside the crawl clock.
        warm = (
            self.spark.range(self._n_parts * 4)
            .repartition(self._n_parts)
            .select(
                self._step_udf(
                    F.lit("https://warm.invalid/x"), F.lit("warm.invalid"),
                    F.lit("https://warm.invalid/x"),
                    F.lit(None).cast("string"), F.lit(0),
                ).alias("ex")
            )
        )
        warm.select(F.max(F.col("ex.success"))).collect()

    # LONG-LIVED checkpoint blocks are stored SERIALIZED (python
    # StorageLevel.MEMORY_AND_DISK = memory+disk, serialized — unlike
    # the JVM localCheckpoint default, which keeps deserialized row
    # objects).  The step outputs (extracted spans) of EVERY superstep
    # stay referenced for the whole run by the lazy docs/log result
    # tables; held deserialized that's tens of millions of live
    # objects on the old-gen heap, and a full GC over that graph
    # stop-the-worlds for tens of seconds (measured 30-60 s at
    # 10^5-page supersteps — the dominant wall-clock noise at bench
    # scale, and a per-executor hazard at cluster scale).  Serialized
    # blocks are a few large byte arrays: full-GC cost collapses for
    # the same retained bytes, at a ser/deser cost per read that the
    # Kryo default in session.py keeps memcpy-grade.
    _CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK
    # SHORT-LIVED hot state (the frontier: replaced and unpersisted
    # every superstep, probed 2-4x per superstep by the anti-join and
    # merge) stays DESERIALIZED — it never accumulates, so it isn't a
    # full-GC driver, and paying deser on every probe would put the
    # cost in the hot loop.
    _CKPT_HOT_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER

    # ── seeds ────────────────────────────────────────────────────────
    def _seed_frontier(self, seeds: list[str]) -> tuple[DataFrame, CrawlState]:
        state = CrawlState()
        rows, seen = [], set()
        for s in seeds:
            canon = canonicalize_for_crawl(s, s)
            if not canon or canon in seen or not is_valid_crawl_url(canon):
                continue
            seen.add(canon)
            rows.append((canon, None, get_host(canon), 0, 0.0, None, state.next_seq,
                         "pending", 0, 0))
            state.next_seq += 1
        frontier = local_relation(self.spark, rows, self._frontier_schema).withColumn(
            "url_hash", self._cols.url_hash
        )
        state.frontier_ub = len(rows)
        state.pending_count = len(rows)
        state.min_pending_depth = 0 if rows else None
        return frontier, state

    # stop bounds: a resume may extend them
    _RESUME_MAY_CHANGE = frozenset({"max_pages", "max_iterations"})

    # ── main loop ────────────────────────────────────────────────────
    def run(self, seeds: list[str]) -> CrawlResultTables:
        frontier, state = self._seed_frontier(seeds)
        return self._loop(frontier, self._empty_docs, self._empty_log, state)

    @staticmethod
    def _union_parts(base: DataFrame, parts: list[DataFrame]) -> DataFrame:
        out = base
        for p in parts:
            out = out.unionByName(p)
        return out

    def _config_state(self) -> dict:
        """The crawl config as the manifest stores it (a JSON round trip)."""
        return json.loads(json.dumps(asdict(self.cfg)))

    def resume(self, seeds: list[str] = ()) -> CrawlResultTables:
        """Continue from the store's latest committed snapshot
        (north rule: resumable from checkpoint), adding `seeds` that
        the committed frontier does not hold yet as pending depth-0
        rows enqueued at the snapshot's iteration.

        Raises ValueError when the config differs from the one the
        snapshot was committed under: a resume under another mode,
        scorer, filter or budget would mix two orderings.  Only the stop
        bounds (`_RESUME_MAY_CHANGE`) may change, so a resume can
        extend a crawl.  A manifest without a stored config resumes
        unchecked."""
        if self.store is None:
            raise ValueError("resume requires a SnapshotStore")
        m = self.store.read_manifest()
        if not m:
            raise FileNotFoundError(f"no committed snapshot to resume from in {self.store.root!r}")
        st = m["state"]
        if "config" in st:
            now = self._config_state()
            changed = sorted(
                k for k in st["config"].keys() | now.keys()
                if k not in self._RESUME_MAY_CHANGE and st["config"].get(k) != now.get(k)
            )
            if changed:
                raise ValueError(
                    f"resume config differs from the committed crawl's in {', '.join(changed)}"
                )
        state = CrawlState(
            iteration=st["iteration"],
            next_seq=st["next_seq"],
            pages_crawled=st["pages_crawled"],
            host_state={h: (d, f) for h, (d, f) in st["host_state"].items()},
            frontier_ub=st.get("frontier_ub", _SMALL_PENDING_MAX + 1),
        )
        frontier = self.store.load(self.spark, "frontier")
        if seeds:
            seeded, seed_state = self._seed_frontier(seeds)
            known = frontier.join(F.broadcast(seeded.select("url_hash")), "url_hash", "left_semi")
            seeded = seeded.join(F.broadcast(known.select("url_hash")), "url_hash", "left_anti")
            frontier = frontier.unionByName(seeded.withColumns({
                "seq": F.col("seq") + F.lit(state.next_seq),
                "enqueue_iter": F.lit(state.iteration),
            }))
            state.next_seq += seed_state.next_seq
            state.frontier_ub += seed_state.frontier_ub
        docs = self.store.load(self.spark, "docs")
        log = self.store.load(self.spark, "crawl_log")
        return self._loop(frontier, docs, log, state)

    def _loop(self, frontier, docs, log, state) -> CrawlResultTables:
        cfg = self.cfg
        # docs/crawl_log are append-only and never read inside the loop:
        # accumulate per-iteration parts, union at commit/return time.
        docs_parts: list[DataFrame] = []
        log_parts: list[DataFrame] = []
        committed = None  # iteration of the last in-loop commit
        while state.iteration < cfg.max_iterations and state.pages_crawled < cfg.max_pages:
            out = self._iterate(frontier, state)
            if out is None:
                break
            frontier_next, new_docs, new_log = out
            # old frontier checkpoint is dead once the new one exists
            try:
                frontier.unpersist()
            except Exception:
                pass
            frontier = frontier_next
            docs_parts.append(new_docs)
            log_parts.append(new_log)
            if self.store and state.iteration % self.checkpoint_every == 0:
                docs = self._union_parts(docs, docs_parts).localCheckpoint(eager=True, storageLevel=self._CKPT_LEVEL)
                log = self._union_parts(log, log_parts).localCheckpoint(eager=True, storageLevel=self._CKPT_LEVEL)
                docs_parts, log_parts = [], []
                self._commit(frontier, docs, log, state)
                committed = state.iteration
        docs = self._union_parts(docs, docs_parts)
        log = self._union_parts(log, log_parts)
        # commit what the loop has not: a crawl that stopped between
        # checkpoints, or one that ran no superstep at all
        if self.store and committed != state.iteration:
            self._commit(frontier, docs, log, state)
        return self._result(frontier, docs, log, state)

    def _result(self, frontier, docs, log, state) -> CrawlResultTables:
        return CrawlResultTables(
            frontier=frontier.filter(self._cols.is_live),
            seen=frontier.select(*self._cols.seen_cols),
            docs=docs,
            crawl_log=log,
            state=state,
        )

    def _commit(self, frontier, docs, log, state) -> None:
        self.store.commit(
            snapshot_id=state.iteration,
            # docs and log are unions of per-superstep parts: coalesce
            # so each commit writes n_parts files, not one per part
            tables={"frontier": frontier, "docs": docs.coalesce(self._n_parts),
                    "crawl_log": log.coalesce(self._n_parts)},
            metrics={"pages_crawled": state.pages_crawled},
            state={"iteration": state.iteration, "next_seq": state.next_seq,
                   "pages_crawled": state.pages_crawled,
                   "frontier_ub": state.frontier_ub,
                   "host_state": {h: list(v) for h, v in state.host_state.items()},
                   "config": self._config_state()},
        )

    # ── one superstep ────────────────────────────────────────────────
    def _iterate(self, frontier, state):
        cfg = self.cfg
        c = self._cols
        n_parts = self._n_parts
        iteration = state.iteration + 1

        tmark = time.time()
        timings: dict[str, float] = {}

        def _mark(label: str) -> None:
            nonlocal tmark
            now = time.time()
            timings[label] = round(now - tmark, 2)
            tmark = now

        # exact-empty fast exit: the merge observe of the previous
        # superstep counted pending rows; 0 means the admission+fetch
        # job below would scan the corpus just to find an empty batch
        # — a full fixed-cost superstep spent discovering termination.
        if state.pending_count == 0:
            return None

        pending = frontier.filter(c.is_pending)

        # BFS: whole current level is the candidate set (O2).  The
        # level (min pending depth) rides the previous merge job's
        # observe() — the fallback agg fires only on resume, where the
        # checkpointed frontier hasn't been observed yet.
        if cfg.mode == "bfs":
            if state.min_pending_depth is None:
                level_row = pending.agg(F.min("depth").alias("d")).collect()
                if not level_row or level_row[0]["d"] is None:
                    return None
                state.min_pending_depth = int(level_row[0]["d"])
            pending = pending.filter(c.depth == state.min_pending_depth)

        # ── job 1: politeness admission window (P1): per-host budget
        #    rank (keyed window), then exact PARALLEL global top-K ────
        budgets = {h: cfg.host_budget(d) for h, (d, _f) in state.host_state.items()}
        remaining = cfg.max_pages - state.pages_crawled
        global_budget = min(cfg.global_budget, remaining)

        # Fast path: when every host budget ≥ the global budget the
        # per-host cap provably cannot change the admitted set (any row
        # ranked past its host cap is also past the global cut) — skip
        # the extra shuffle+window.  This is the throughput-bench mode.
        min_budget = min(budgets.values(), default=cfg.base_budget)
        cap_can_bind = min(min_budget, cfg.base_budget) < global_budget
        cands = pending
        # O5 fairness aging: starved entries jump the queue with
        # priority -wait; fresh entries rank by retry_count — the
        # dispatcher's anti-starvation rule at iteration granularity
        if cfg.fairness_timeout_iters is not None:
            wait = F.lit(iteration) - c.enqueue_iter
            fair = F.when(
                wait > cfg.fairness_timeout_iters, (-wait).cast("double")
            ).otherwise(c.retry_count.cast("double"))
            cands = cands.withColumn("_fair", fair)
        if cap_can_bind:
            cands = cands.withColumn(
                "budget", _host_lookup(budgets, cfg.base_budget, "int")
            )
            if cfg.admission_salts and cfg.admission_salts > 1:
                # Hot-host salting (north rule: "salts hot hosts to
                # defuse skew").  Exact two-phase cap: pre-trim within
                # (host, pmod(url_hash, S)) to ≤ budget rows — a row in
                # the host's true top-budget has < budget better rows on
                # the whole host, so < budget in its salt group, so the
                # pre-trim never drops a winner — then the exact host
                # window below sees ≤ S·budget rows per host instead of
                # the host's whole pending set.  budget is constant per
                # host, so using the row's own joined budget is safe.
                s = int(cfg.admission_salts)
                salt = F.pmod(F.coalesce(F.col("url_hash"), F.lit(0)), F.lit(s))
                pre_rank = F.row_number().over(
                    Window.partitionBy("host", "_salt").orderBy(*c.order)
                )
                cands = (
                    cands.withColumn("_salt", salt)
                    .withColumn("_pre_rank", pre_rank)
                    .filter(F.col("_pre_rank") <= F.col("budget"))
                    .drop("_salt", "_pre_rank")
                )
            cands = (
                cands.withColumn("host_rank", c.host_rank)
                .filter(c.within_host_budget)
                .drop("budget", "host_rank")
            )
        # Exact parallel global top-K.  With no scorer the order key
        # reduces to (depth, seq), and seq's bit layout (iteration |
        # parent_rank | link_pos) IS the FIFO order — so the range
        # buckets come from arithmetic (with_bucketed_rank: one keyed
        # window, no sampling job).  With a scorer the key distribution
        # is unknown → repartitionByRange-based with_global_rank.
        if state.frontier_ub <= _SMALL_PENDING_MAX:
            # small-N shortcut: one skinny single-task sort beats the
            # two-phase rank's extra stage waves below ~1M pending
            ranked = cands.withColumn("batch_rank", c.small_rank)
        elif cfg.scorer is None and cfg.fairness_timeout_iters is None:
            it_part = F.shiftrightunsigned(F.col("seq"), _SEQ_ITER_SHIFT)
            rank_part = F.shiftrightunsigned(F.col("seq"), _SEQ_RANK_SHIFT).bitwiseAND(
                F.lit((1 << 24) - 1)
            )
            band_w = max(1, -(-(cfg.global_budget + 1) // n_parts))
            band = F.floor(rank_part / F.lit(band_w)).cast("long")
            if cfg.mode == "dfs":
                # LIFO: (enqueue_iter desc, seq asc) → invert the
                # iteration field so the bucket stays monotone
                bucket = (
                    F.shiftleft(F.lit((1 << 23)).cast("long") - it_part, 12) + band
                )
            else:
                bucket = (
                    F.col("depth").cast("long") * F.lit(1 << 35).cast("long")
                    + F.shiftleft(it_part, 12)
                    + band
                )
            ranked = with_bucketed_rank(cands, bucket, c.order, "batch_rank")
        else:
            ranked = with_global_rank(cands, c.order, "batch_rank", n_parts)
        if cfg.fairness_timeout_iters is not None:
            ranked = ranked.drop("_fair")
        batch = (
            ranked.filter(c.batch_rank <= global_budget)
            .withColumn("batch_rank", c.batch_rank_int)
        )
        _mark("admission")
        state.iteration = iteration

        # ── job 2 (jobs 1+2 fused): fetch join + fused extract UDF ───
        # Join strategy: pages_eff is cached hash-partitioned by url
        # (one-time, __init__), so this left join shuffles ONLY the
        # small batch side; the shuffle_hash hint builds on the batch
        # and streams the corpus partitions (never sorts, never
        # shuffles, never builds over the corpus).  At production
        # scale this join is replaced by the network fetch UDF; the
        # shape stays batch-small.
        from crawl4ai_spark.plans.cache import cache_lookup, cache_merge

        fetch_in = cache_lookup(batch, self.page_cache) if self._read_cache else batch
        if self._fetch_udf is not None:
            # Real-fetch path (S5): repartition the admitted batch by
            # (host, salt), then one transport UDF per row batch.
            fetch_in = fetch_in.repartition(n_parts, *c.fetch_partition)
            fetch_call = c.fetch_call
            if self._pace_fetch:
                # per-host delay: the live backoff/decay delay from
                # state.host_state (the rows the admission budgets come
                # from), base_delay for hosts not in it; the paced UDF
                # sleeps same-host requests ≥ delay apart
                delay_col = _host_lookup(
                    {h: float(d) for h, (d, _f) in state.host_state.items()},
                    float(cfg.base_delay), "double",
                )
                fetch_call = self._fetch_udf(c.fetch_url, delay_col)
            fetched = fetch_in.withColumn("_fr", fetch_call).select(*c.fetched_cols)
        else:
            fetched = (
                fetch_in.hint("shuffle_hash").join(self.pages_eff, "url", "left")
                .select(*c.fetched_cols)
            )
        # Stage width note: the fetch join's probe side is the CACHED
        # pages_eff at a fixed n_parts partitioning, so the join (and
        # the fused UDF that follows in the same stage) always runs at
        # n_parts-way parallelism — AQE cannot coalesce a cached
        # relation.  No repartition needed (an explicit one here would
        # shuffle the heavy post-UDF output: Catalyst commutes the
        # UDF projection below a url-only repartition).
        if self._write_cache:
            # materialize the html-bearing fetch once (so the step
            # projection below and the cache upsert share ONE fetch —
            # a transport must never fire twice per URL), then upsert
            fetched = fetched.localCheckpoint(eager=True, storageLevel=self._CKPT_LEVEL)
            self.page_cache = cache_merge(
                self.page_cache, fetched.select(*c.cache_cols), iteration,
            ).localCheckpoint(eager=True, storageLevel=self._CKPT_LEVEL)
        step = fetched.select(*c.step_cols).withColumn("outcome", c.outcome)
        obs = Observation(f"step_{iteration}")
        step = step.observe(obs, *c.step_aggs)
        step = step.localCheckpoint(eager=True, storageLevel=self._CKPT_LEVEL)
        _mark("fetch_extract")

        # ── counters + host-state deltas (A4) + link bound ───────────
        m = obs.get
        if m["n"] == 0:  # empty batch — frontier exhausted
            state.iteration = iteration - 1
            return None
        n_batch = int(m["n"] or 0)
        n_success = int(m["ok"] or 0)
        n_links_ub = int(m["n_links"] or 0)
        state.pages_crawled += n_success
        if cfg.track_host_state:
            # every backed-off host backs off further; every other host
            # that succeeded decays toward base_delay
            bad_hosts = set(m["bad_hosts"])
            for h in bad_hosts:
                delay, fails = state.host_state.get(h, (cfg.base_delay, 0))
                state.host_state[h] = (min(cfg.max_delay, delay * cfg.backoff_factor), fails + 1)
            for h in set(m["ok_hosts"]) - bad_hosts:
                delay, _fails = state.host_state.get(h, (cfg.base_delay, 0))
                state.host_state[h] = (max(cfg.base_delay, delay * cfg.decay_factor), 0)
        _mark("host_agg")

        new_docs = step.filter(c.is_success).select(
            *c.docs_cols, F.lit(iteration).alias("iteration")
        )

        # ── link discovery → scored candidate set (SURVEY §3.3) ──────
        can_discover = state.pages_crawled < cfg.max_pages and n_links_ub > 0
        new_entries = None
        obs_fresh = None
        if can_discover:
            links = (
                step.filter(c.can_expand)
                .select(*c.link_explode)
                .select(*c.link_cols)
                .filter(c.valid_link)
            )
            if c.link_filter is not None:
                links = links.filter(c.link_filter)
            links = links.withColumn("score", c.link_score)
            if self.link_score_fn is not None:
                # R11 seam: a DataFrame→DataFrame hook over the scored
                # candidate links (columns incl. canon/host/depth/score)
                # — operators.adaptive.adaptive_rank plugs in here to
                # re-rank the frontier by expected information gain
                # (relevance+novelty+authority over the TF state).
                # Must preserve the link columns; may rewrite `score`.
                links = self.link_score_fn(links, iteration)
            if cfg.score_threshold > float("-inf"):
                links = links.filter(c.above_threshold)
            links = links.withColumn("ch", c.link_hash)

            # within-iteration dedup: first discovery wins (J7).
            # groupBy + min_by instead of a row_number window: the
            # partial (map-side) min collapses duplicate links BEFORE
            # the shuffle — at fan-out 8 most links are dupes, so the
            # exchange ships a fraction of the rows and skips the
            # per-partition sort entirely.  min_by over the unique
            # (batch_rank, link_pos) equals the window's rn=1 row
            # exactly.  The groupBy also leaves the output hash-
            # partitioned by ch, which the seen anti-join below
            # consumes without a new exchange.
            deduped = links.groupBy("ch").agg(c.first_link).select(*c.deduped_cols)
            # seen-set anti-join (J1): frontier side ships ONLY 8-byte
            # hashes — the one seen-set path (frontier ⊇ seen).
            seen_hashes = frontier.select(c.seen_hash)
            if state.frontier_ub <= _BCAST_SEEN_MAX:
                # small-N shortcut: ≤512k hashes broadcast (~4 MB) →
                # BroadcastHashJoin LeftAnti, zero exchanges; beyond
                # that the hash-partitioned shuffle anti-join takes over
                seen_hashes = F.broadcast(seen_hashes)
            fresh = deduped.join(seen_hashes, "ch", "left_anti")

            # capacity trim (O4) is RETROACTIVE: every fresh row is
            # enqueued pending, an observe() on this same checkpoint
            # job counts them exactly, and only when that exact count
            # exceeds capacity does a (rare) follow-up pass re-mark the
            # overflow as trimmed — see after the checkpoint below.
            # The old inline rank triggered on the conservative link
            # UPPER BOUND (all links incl. duplicates), which in a
            # fan-out-8 crawl fires on nearly every superstep while the
            # actual unique-new count almost never binds: two shuffle
            # waves per superstep for a cut that wasn't taken.
            new_entries = fresh.select(
                *c.entry_cols,
                (F.lit(int(iteration) << _SEQ_ITER_SHIFT).cast("long") + c.seq_tail).alias("seq"),
                F.lit(iteration).alias("enqueue_iter"),
            )
            obs_fresh = Observation(f"fresh_{iteration}")
            new_entries = new_entries.observe(obs_fresh, *c.fresh_aggs)

        # ── job 4: frontier merge (the MERGE INTO stand-in) ──────────
        updated = step.select(*c.updated_cols)
        # batch removal: broadcast anti against the (small, cached)
        # step — the big frontier streams, no shuffle
        frontier_next = frontier.join(
            F.broadcast(step.select(c.url)), "url", "left_anti"
        ).select(*c.frontier_cols).unionByName(updated)
        if new_entries is not None:
            frontier_next = frontier_next.unionByName(new_entries)
        # coalesce: unions sum their parents' partition counts, so
        # without this the state table gains ~2·n_parts partitions per
        # superstep and task-launch overhead grows linearly with
        # iteration count (narrow op — no shuffle).
        obs_frontier = Observation(f"frontier_{iteration}")
        frontier_next = frontier_next.observe(obs_frontier, *c.frontier_aggs)
        frontier_next = frontier_next.coalesce(n_parts)
        frontier_next = frontier_next.localCheckpoint(eager=True, storageLevel=self._CKPT_HOT_LEVEL)
        _obs_f = obs_frontier.get
        state.pending_count = int(_obs_f["n_pending"] or 0)
        state.min_pending_depth = (
            int(_obs_f["min_pending_depth"])
            if _obs_f["min_pending_depth"] is not None else None
        )

        # retroactive capacity trim (O4): the observe above gives the
        # EXACT number of fresh rows; only when it truly exceeds the
        # remaining page budget (i.e. only on the binding superstep of
        # a budget-capped crawl) do we pay a rank + second checkpoint.
        # Status assignments are identical to the old inline trim: the
        # fresh rows of this iteration ranked by the same order key —
        # (batch_rank, link_pos) ≡ seq ascending within one iteration,
        # since seq = iteration<<40 | batch_rank<<16 | link_pos.
        n_fresh = int(obs_fresh.get["n_fresh"] or 0) if obs_fresh is not None else 0
        capacity = cfg.max_pages - state.pages_crawled
        if n_fresh > capacity:
            is_fresh = (c.enqueue_iter == iteration) & c.is_pending
            fresh_rows = frontier_next.filter(is_fresh)
            if cfg.mode == "bfs" and cfg.scorer is not None:
                fresh_rows = with_global_rank(
                    fresh_rows, [F.desc("score"), F.asc("seq")], "trim_rank", n_parts
                )
            else:
                rank_part = F.shiftrightunsigned(F.col("seq"), _SEQ_RANK_SHIFT).bitwiseAND(
                    F.lit((1 << 24) - 1)
                )
                band_w = max(1, -(-(global_budget + 1) // n_parts))
                fresh_rows = with_bucketed_rank(
                    fresh_rows,
                    F.floor((rank_part - F.lit(1)) / F.lit(band_w)),
                    [F.asc("seq")],
                    "trim_rank",
                )
            fresh_rows = fresh_rows.withColumn(
                "status",
                F.when(F.col("trim_rank") <= capacity, F.lit("pending")).otherwise(
                    F.lit("trimmed")
                ),
            ).drop("trim_rank")
            retrimmed = (
                frontier_next.filter(~is_fresh).unionByName(fresh_rows)
                .coalesce(n_parts)
                .localCheckpoint(eager=True, storageLevel=self._CKPT_HOT_LEVEL)
            )
            frontier_next.unpersist()
            frontier_next = retrimmed
            # the trim re-marked exactly (n_fresh - capacity) pending
            # rows as trimmed
            state.pending_count -= n_fresh - capacity
        # exact frontier growth (rows only ever get added by fresh
        # entries) — a tight bound keeps the small-N plan shortcuts
        # live as long as they're actually profitable
        state.frontier_ub += n_fresh
        new_log = step.select(F.lit(iteration).alias("iteration"), *c.log_cols)
        _mark("merge")
        if self.verbose_timing:
            print(
                f"[iter {iteration}] "
                + " ".join(f"{k}={v}s" for k, v in timings.items())
                + f" batch={n_batch} ok={n_success} links={n_links_ub}"
            )
        return frontier_next, new_docs, new_log
