"""SSL certificate capture — the reference's `ssl_certificate.py`
re-expressed without pyOpenSSL.

Reference behavior (ssl_certificate.py:62-135 `from_url`): open a TLS
connection, take the peer cert in binary (DER) form, parse
subject/issuer/serial/validity/fingerprint/SAN, keep the raw DER
base64'd, and export as JSON/PEM/DER.  pyOpenSSL does the ASN.1 work
there; this module carries a STDLIB SUBSET DER reader (TLV walk over
the X.509 v3 layout: RDN names with the common attribute OIDs,
UTCTime/GeneralizedTime validity, the subjectAltName extension's
dNSNames, SHA-256 fingerprint over the DER) plus the matching writer
used for fixtures — the same honesty pattern as the PDF and WARC
subset codecs.  Certificates whose layout falls outside the subset
parse to whatever prefix matches and never raise.

Spark shape: certificates are a HOST-level dim — fetch once per host
(the live `fetch_cert_one`, gated on network), parse DISTRIBUTED over
the (host, der) table via one Arrow UDF batch (`parse_certs`), then
broadcast-join cert columns (expiry, issuer, SANs) wherever policy
needs them — e.g. joining `not_after` onto the frontier to deprioritize
soon-expiring hosts, or SAN/host mismatch as a quality signal.  At
10^8 hosts the dim is ~GBs and the join shuffles instead of
broadcasting.
"""

from __future__ import annotations

import base64
import hashlib
import ssl
import socket
from typing import Iterator
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "build_der_cert",
    "parse_der_cert",
    "cert_to_pem",
    "fetch_cert_one",
    "parse_certs",
]

# attribute OIDs the reference surfaces via get_components()
_ATTR_OIDS = {
    (2, 5, 4, 3): "CN",
    (2, 5, 4, 6): "C",
    (2, 5, 4, 7): "L",
    (2, 5, 4, 8): "ST",
    (2, 5, 4, 10): "O",
    (2, 5, 4, 11): "OU",
    (1, 2, 840, 113549, 1, 9, 1): "emailAddress",
}
_SAN_OID = (2, 5, 29, 17)


# ── DER TLV primitives ───────────────────────────────────────────────

def _enc_len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    body = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(body)]) + body


def _tlv(tag: int, body: bytes) -> bytes:
    return bytes([tag]) + _enc_len(len(body)) + body


def _enc_oid(arcs: tuple[int, ...]) -> bytes:
    out = bytearray([arcs[0] * 40 + arcs[1]])
    for a in arcs[2:]:
        chunk = bytearray([a & 0x7F])
        a >>= 7
        while a:
            chunk.insert(0, 0x80 | (a & 0x7F))
            a >>= 7
        out += chunk
    return _tlv(0x06, bytes(out))


def _read_tlv(data: bytes, pos: int) -> tuple[int, bytes, int]:
    """(tag, body, next_pos); raises IndexError/ValueError on truncation."""
    tag = data[pos]
    ln = data[pos + 1]
    pos += 2
    if ln & 0x80:
        k = ln & 0x7F
        ln = int.from_bytes(data[pos: pos + k], "big")
        pos += k
    return tag, data[pos: pos + ln], pos + ln


def _iter_tlv(body: bytes) -> Iterator[tuple[int, bytes]]:
    pos = 0
    while pos < len(body):
        tag, inner, pos = _read_tlv(body, pos)
        yield tag, inner


def _dec_oid(body: bytes) -> tuple[int, ...]:
    arcs = [body[0] // 40, body[0] % 40]
    val = 0
    for b in body[1:]:
        val = (val << 7) | (b & 0x7F)
        if not b & 0x80:
            arcs.append(val)
            val = 0
    return tuple(arcs)


# ── writer (fixtures) ────────────────────────────────────────────────

def _name(attrs: dict[str, str]) -> bytes:
    rdns = b""
    by_short = {v: k for k, v in _ATTR_OIDS.items()}
    for short, value in attrs.items():
        oid = by_short[short]
        atv = _tlv(0x30, _enc_oid(oid) + _tlv(0x0C, value.encode("utf-8")))
        rdns += _tlv(0x31, atv)
    return _tlv(0x30, rdns)


def build_der_cert(
    subject: dict[str, str],
    issuer: dict[str, str],
    serial: int = 1,
    not_before: str = "240101000000Z",
    not_after: str = "260101000000Z",
    san: list[str] | None = None,
) -> bytes:
    """Minimal X.509 v3 DER certificate inside the reader's subset
    (placeholder signature — fixtures, not trust)."""
    ext = b""
    if san:
        names = b"".join(_tlv(0x82, d.encode("ascii")) for d in san)
        ext_body = _tlv(0x30, _enc_oid(_SAN_OID) + _tlv(0x04, _tlv(0x30, names)))
        ext = _tlv(0xA3, _tlv(0x30, ext_body))
    alg = _tlv(0x30, _enc_oid((1, 2, 840, 113549, 1, 1, 11)) + _tlv(0x05, b""))
    spki = _tlv(0x30, alg + _tlv(0x03, b"\x00\x00"))
    tbs = _tlv(
        0x30,
        _tlv(0xA0, _tlv(0x02, b"\x02"))                      # version v3
        + _tlv(0x02, serial.to_bytes(max(1, (serial.bit_length() + 8) // 8), "big"))
        + alg
        + _name(issuer)
        + _tlv(0x30, _tlv(0x17, not_before.encode()) + _tlv(0x17, not_after.encode()))
        + _name(subject)
        + spki
        + ext,
    )
    return _tlv(0x30, tbs + alg + _tlv(0x03, b"\x00\x00"))


# ── reader ───────────────────────────────────────────────────────────

def _parse_name(body: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for _tag, rdn in _iter_tlv(body):          # SET
        for _t2, atv in _iter_tlv(rdn):        # SEQUENCE{oid, value}
            items = list(_iter_tlv(atv))
            if len(items) != 2 or items[0][0] != 0x06:
                continue
            oid = _dec_oid(items[0][1])
            key = _ATTR_OIDS.get(oid, ".".join(map(str, oid)))
            try:
                out[key] = items[1][1].decode("utf-8")
            except UnicodeDecodeError:
                out[key] = items[1][1].decode("latin-1")
    return out


def parse_der_cert(der: bytes) -> dict:
    """subject/issuer/serial/validity/SANs/fingerprint from DER bytes
    — the fields `SSLCertificate` exposes.  Unknown layouts degrade to
    partial dicts, never exceptions."""
    info: dict = {
        "subject": {}, "issuer": {}, "serial_number": None,
        "not_before": None, "not_after": None, "sans": [],
        "fingerprint": hashlib.sha256(der).hexdigest(),
        "raw_cert": base64.b64encode(der).decode("ascii"),
    }
    try:
        _tag, cert_body, _ = _read_tlv(der, 0)
        tbs_tag, tbs, _pos = _read_tlv(cert_body, 0)
        fields = list(_iter_tlv(tbs))
        i = 0
        if fields and fields[0][0] == 0xA0:   # explicit version
            i = 1
        serial_body = fields[i][1]
        info["serial_number"] = hex(int.from_bytes(serial_body, "big"))
        info["issuer"] = _parse_name(fields[i + 2][1])
        validity = list(_iter_tlv(fields[i + 3][1]))
        if len(validity) == 2:
            info["not_before"] = validity[0][1].decode("ascii")
            info["not_after"] = validity[1][1].decode("ascii")
        info["subject"] = _parse_name(fields[i + 4][1])
        # extensions: [3] EXPLICIT wrapping SEQUENCE OF Extension
        exts = [b for t, b in fields[i + 5:] if t == 0xA3]
        if exts:
            _t, seq_body, _ = _read_tlv(exts[0], 0)
            for _ext_tag, ext_body in _iter_tlv(seq_body):
                items = list(_iter_tlv(ext_body))
                if not items or items[0][0] != 0x06:
                    continue
                if _dec_oid(items[0][1]) == _SAN_OID:
                    # last item = OCTET STRING wrapping GeneralNames
                    _t2, names, _ = _read_tlv(items[-1][1], 0)
                    for ntag, nbody in _iter_tlv(names):
                        if ntag == 0x82:  # dNSName
                            info["sans"].append(nbody.decode("ascii"))
    except (IndexError, ValueError):
        pass
    return info


def cert_to_pem(der: bytes) -> str:
    """DER → PEM (ssl_certificate.py:167-186 export surface)."""
    b64 = base64.b64encode(der).decode("ascii")
    lines = [b64[i: i + 64] for i in range(0, len(b64), 64)]
    return (
        "-----BEGIN CERTIFICATE-----\n"
        + "\n".join(lines)
        + "\n-----END CERTIFICATE-----\n"
    )


# ── fetch seam ───────────────────────────────────────────────────────

def fetch_cert_one(url: str, timeout: int = 10) -> bytes | None:
    """Live peer-cert DER for a URL's host (from_url :62-95 semantics:
    netloc minus port, port 443, binary form).  Network-gated — the
    sandbox has no egress; tests exercise the parser via the writer."""
    host = urlparse(url).netloc.split(":")[0]
    try:
        ctx = ssl.create_default_context()
        with socket.create_connection((host, 443), timeout=timeout) as sock:
            with ctx.wrap_socket(sock, server_hostname=host) as tls:
                return tls.getpeercert(binary_form=True)
    except OSError:
        return None


# ── Spark surface ────────────────────────────────────────────────────

CERT_SCHEMA = (
    "host string, subject_cn string, issuer_cn string, issuer_o string, "
    "serial_number string, not_before string, not_after string, "
    "sans array<string>, fingerprint string"
)


def parse_certs(df: DataFrame, der_col: str = "der", host_col: str = "host") -> DataFrame:
    """(host, der) dim → parsed cert columns, one Arrow hop."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["host", "subject_cn", "issuer_cn", "issuer_o", "serial_number",
                "not_before", "not_after", "sans", "fingerprint"]
        for pdf in batches:
            rows = []
            for host, der in zip(pdf[host_col], pdf[der_col]):
                info = parse_der_cert(bytes(der))
                rows.append({
                    "host": host,
                    "subject_cn": info["subject"].get("CN"),
                    "issuer_cn": info["issuer"].get("CN"),
                    "issuer_o": info["issuer"].get("O"),
                    "serial_number": info["serial_number"],
                    "not_before": info["not_before"],
                    "not_after": info["not_after"],
                    "sans": info["sans"],
                    "fingerprint": info["fingerprint"],
                })
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    return df.select(host_col, der_col).mapInPandas(gen, CERT_SCHEMA)
