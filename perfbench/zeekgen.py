"""Seeded generator of one Zeek log day, plus the answers it implies.

Writes ``{root}/{DATE}/{family}.{HH_00_00-HH+1_00_00}.log.gz`` for the
families in ``FAMILY_SHARE``, 24 hourly files each, in the header-exact
TSV format the reader expects. Column values are drawn with numpy from
``--seed``; the generator records, as it writes, the answers the
benchmark checks against:

- ``needles``: for each query IP, the ``(uid, ts)`` of every row whose
  ``id.orig_h`` or ``id.resp_h`` is that IP, per family. Query IPs come
  from reserved ranges that random rows never use: the present ones are
  planted into a fixed number of rows, the absent ones into none.
"""

from __future__ import annotations

import gzip
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from log_analysis_spark.sources.zeek_records import (
    CONN_FIELDS,
    DNS_FIELDS,
    HTTP_FIELDS,
    SSL_FIELDS,
    _CASTS,
)

DATE = "2024-07-02"
DAY_EPOCH = 1719878400  # DATE 00:00:00 UTC
FAMILY_FIELDS = {
    "conn": CONN_FIELDS,
    "dns": DNS_FIELDS,
    "http": HTTP_FIELDS,
    "ssl": SSL_FIELDS,
}
FAMILY_SHARE = {"conn": 0.4, "dns": 0.3, "http": 0.2, "ssl": 0.1}
N_INTERNAL_HOSTS = 4000   # id.orig_h pool (10.0.0.0/16)
N_PRESENT = 4             # query IPs planted into rows (203.0.113.0/24)
N_ABSENT = 2              # query IPs in no row (198.51.100.0/24)
ROWS_PER_NEEDLE = 6       # planted rows per present query IP, over all families

_WORDS = ["example", "cdn", "mail", "api", "static", "login", "img", "news"]
_TLDS = ["com", "org", "net", "io", "de"]
_STRINGS = {
    "proto": ["tcp", "udp"],
    "service": ["-", "http", "ssl", "dns"],
    "conn_state": ["SF", "S0", "REJ", "RSTO", "OTH"],
    "history": ["ShADadFf", "S", "ShAdDaFf", "Dd"],
    "method": ["GET", "POST", "HEAD"],
    "version": ["1.1", "TLSv12", "TLSv13", "2"],
    "status_msg": ["OK", "Not Found", "Moved Permanently"],
    "user_agent": ["Mozilla/5.0", "curl/8.1.2", "python-requests/2.31"],
    "cipher": ["TLS_AES_128_GCM_SHA256", "TLS_ECDHE_RSA_WITH_AES_256_GCM_SHA384"],
    "curve": ["x25519", "secp256r1"],
    "qclass_name": ["C_INTERNET"],
    "qtype_name": ["A", "AAAA", "MX", "TXT"],
    "rcode_name": ["NOERROR", "NXDOMAIN"],
    "tags": ["(empty)"],
    "resp_mime_types": ["text/html", "image/png", "-"],
}


@dataclass
class ZeekDay:
    root: str
    date: str
    rows: int
    gz_bytes: int
    queries: list[str]
    needles: dict[str, dict[str, list[tuple[str, float]]]] = field(repr=False)


def _dotted(a: np.ndarray, b: np.ndarray, c: np.ndarray, d: np.ndarray) -> list[str]:
    return [f"{w}.{x}.{y}.{z}" for w, x, y, z in zip(a.tolist(), b.tolist(), c.tolist(), d.tolist())]


def _column(rng: np.random.Generator, name: str, kind: str | None, n: int) -> list[str]:
    if kind in ("interval", "double"):
        v = rng.integers(0, 10_000_000, n)
        return [f"{x // 1_000_000}.{x % 1_000_000:06d}" for x in v.tolist()]
    if kind in ("count", "port"):
        return rng.integers(0, 70_000, n).astype(str).tolist()
    if kind == "bool":
        return np.array(["T", "F", "-"])[rng.integers(0, 3, n)].tolist()
    if kind == "vector":
        return np.array(["-", "(empty)", "a,b", "60.0,120.0"])[rng.integers(0, 4, n)].tolist()
    if name in _STRINGS:
        vocab = np.array(_STRINGS[name])
        return vocab[rng.integers(0, len(vocab), n)].tolist()
    if name in ("host", "query", "server_name"):
        w = np.array(_WORDS)[rng.integers(0, len(_WORDS), n)]
        t = np.array(_TLDS)[rng.integers(0, len(_TLDS), n)]
        k = rng.integers(0, 500, n)
        return [f"{a}{b}.example.{c}" for a, b, c in zip(w.tolist(), k.tolist(), t.tolist())]
    if name == "uri":
        return [f"/p/{x}" for x in rng.integers(0, 100_000, n).tolist()]
    return np.array(["-", "(empty)", "x"])[rng.integers(0, 3, n)].tolist()


def _hour_name(family: str, h: int) -> str:
    return f"{family}.{h:02d}_00_00-{(h + 1) % 24:02d}_00_00.log.gz"


def _header(family: str, fields: list[str]) -> list[str]:
    return [
        "#separator \\x09",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        f"#path\t{family}",
        f"#open\t{DATE}-00-00-00",
        "#fields\t" + "\t".join(fields),
        "#types\t" + "\t".join(["string"] * len(fields)),
    ]


def generate(root: str, seed: int, rows: int, threads: int) -> ZeekDay:
    """Write one day of ``rows`` Zeek rows under ``root``; return the answers."""
    rng = np.random.default_rng(seed)
    day_dir = os.path.join(root, DATE)
    os.makedirs(day_dir, exist_ok=True)
    present = [f"203.0.113.{x}" for x in rng.choice(np.arange(1, 255), N_PRESENT, replace=False)]
    absent = [f"198.51.100.{x}" for x in rng.choice(np.arange(1, 255), N_ABSENT, replace=False)]
    queries = present + absent
    rng.shuffle(queries)
    needles: dict[str, dict[str, list[tuple[str, float]]]] = {q: {} for q in queries}

    # the (family, hour) files that receive each planted needle row
    fam_names = list(FAMILY_FIELDS)
    plants: dict[tuple[str, int], list[tuple[str, str]]] = {}
    for ip in present:
        for _ in range(ROWS_PER_NEEDLE):
            fam = fam_names[int(rng.integers(0, len(fam_names)))]
            side = "id.orig_h" if rng.random() < 0.5 else "id.resp_h"
            plants.setdefault((fam, int(rng.integers(0, 24))), []).append((ip, side))

    payloads: list[tuple[str, str]] = []
    uid_base = 0
    for fam, fields in FAMILY_FIELDS.items():
        kinds = _CASTS[fam]
        per_hour = np.full(24, int(rows * FAMILY_SHARE[fam]) // 24)
        for h in range(24):
            n = int(per_hour[h])
            secs = np.sort(rng.integers(0, 3600 * 1_000_000, n)) + (DAY_EPOCH + 3600 * h) * 1_000_000
            ts = [f"{x // 1_000_000}.{x % 1_000_000:06d}" for x in secs.tolist()]
            uid = [f"C{seed % 1000:03d}{fam[0]}{x:010d}" for x in range(uid_base, uid_base + n)]
            uid_base += n
            hosts = (N_INTERNAL_HOSTS * rng.random(n) ** 2).astype(np.int64)
            orig = _dotted(np.full(n, 10), hosts >> 8, hosts & 255, np.zeros(n, np.int64) + 1)
            ext = rng.integers(0, 1 << 24, n)
            resp = _dotted(ext % 80 + 20, (ext >> 8) & 255, ext & 255, (ext >> 16) % 250 + 1)
            cols: dict[str, list[str]] = {"ts": ts, "uid": uid, "id.orig_h": orig, "id.resp_h": resp}
            for ip, side in plants.get((fam, h), []):
                row = int(rng.integers(0, n))
                # a row may be planted twice; the last plant wins and the
                # answers are read back from the final columns below
                cols[side][row] = ip
            for name in fields:
                if name not in cols:
                    cols[name] = _column(rng, name, kinds.get(name.replace(".", "_")), n)
            hit_rows = _hit_rows(cols, set(queries))
            for q, r in hit_rows:
                needles[q].setdefault(fam, []).append((uid[r], float(ts[r])))
            lines = _header(fam, fields)
            lines += ["\t".join(r) for r in zip(*(cols[f] for f in fields))]
            lines.append(f"#close\t{DATE}-23-59-59")
            payloads.append((os.path.join(day_dir, _hour_name(fam, h)), "\n".join(lines) + "\n"))

    def _write(item: tuple[str, str]) -> int:
        path, text = item
        data = gzip.compress(text.encode("utf-8"), compresslevel=6, mtime=0)
        with open(path, "wb") as f:
            f.write(data)
        return len(data)

    with ThreadPoolExecutor(max_workers=threads) as pool:
        gz_bytes = sum(pool.map(_write, payloads))
    for q in queries:
        for fam in needles[q]:
            needles[q][fam].sort()
    return ZeekDay(
        root=root,
        date=DATE,
        rows=uid_base,
        gz_bytes=gz_bytes,
        queries=queries,
        needles=needles,
    )


def _hit_rows(cols: dict[str, list[str]], queries: set[str]) -> list[tuple[str, int]]:
    out = []
    for r, (o, p) in enumerate(zip(cols["id.orig_h"], cols["id.resp_h"])):
        if o in queries:
            out.append((o, r))
        if p in queries and p != o:
            out.append((p, r))
    return out
