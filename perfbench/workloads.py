"""The benchmark's workloads: inputs, one op, its check and its traced form.

Each workload generates its inputs from the seed in ``__init__`` and then
exposes:

- ``prepare()``: untimed work before each op (clearing outputs);
- ``op(spark, i)``: the timed call into the package's public functions;
- ``check(result)``: compare one op's output with the generator's answers;
- ``traced_op(spark, tracer, i)``: the same op, split into layer spans.

``records_per_op`` is the input size the throughput metric divides by;
``input_bytes`` is the on-disk size of what one op reads.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from log_analysis_spark.functions.parse import parse_conn_like, parse_http_like
from log_analysis_spark.operators.aggregate import events_per_host_hour
from log_analysis_spark.operators.enrich import enrich
from log_analysis_spark.operators.route import route_to_sinks
from log_analysis_spark.plans.checkpoint import Manifest, UnitResult, dir_fingerprint
from log_analysis_spark.plans.job import finalize, run_pipeline
from log_analysis_spark.schemas import RECORD_TYPES
from log_analysis_spark.sources import zeek_tsv
from log_analysis_spark.sources.pages import read_pages_table
from log_analysis_spark.sources.zeek_records import cast_records

import pagesgen
import zeekgen
from pagesgen import tree_size
from spans import Tracer, force

# Inputs are sized so an op takes a few seconds on a 4-core host and a
# whole run, warm-up included, stays near a minute.
ZEEK_ROWS = 200_000    # one Zeek day: 4 families x 24 hourly .log.gz files
PAGES_ROWS = 45_000    # 3 days of pages; one refresh op reads one ~15k-page day


def _parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class IpSearch:
    """Analyst lookup: every row of one Zeek day that names one IP."""

    name = "ip_search"
    warmups = 8

    def __init__(self, work: str, seed: int, threads: int) -> None:
        self.day = zeekgen.generate(os.path.join(work, "zeek"), seed, ZEEK_ROWS, threads)
        self.records_per_op = self.day.rows
        self.input_bytes = self.day.gz_bytes

    def prepare(self) -> None:
        pass

    def _query(self, i: int) -> str:
        return self.day.queries[i % len(self.day.queries)]

    def op(self, spark: SparkSession, i: int):
        ip = self._query(i)
        frames = zeek_tsv.search(spark, self.day.root, self.day.date, src_ip=ip, typed=True)
        return ip, {fam: df.collect() for fam, df in frames.items()}

    def check(self, result) -> bool:
        ip, rows = result
        if set(rows) != set(zeekgen.FAMILY_FIELDS):
            return False
        want = self.day.needles[ip]
        return all(
            sorted((r["uid"], r["ts"]) for r in got) == want.get(fam, [])
            for fam, got in rows.items()
        )

    def traced_op(self, spark: SparkSession, tr: Tracer, i: int):
        ip = self._query(i)
        root, date = self.day.root, self.day.date
        with tr.span("zeek_tsv.discover"):
            by_proto = zeek_tsv.discover(root, date)
        rows = {}
        for fam, files in sorted(by_proto.items()):
            with tr.span("zeek_tsv.sniff_header"):
                header = zeek_tsv.sniff_header(files[0])
            with tr.span("zeek_tsv.scan") as scan:
                df = zeek_tsv.read_proto(spark, files, header)
                scanned = force(df)["n"]
            scan.counts = {
                "zeek_tsv.files_read": len(files),
                "zeek_tsv.gz_bytes_read": sum(os.path.getsize(p) for p in files),
                "zeek_tsv.rows_scanned": scanned,
            }
            with tr.span("zeek_records.cast", base=scan) as cast:
                force(cast_records(df, fam))
            with tr.span("zeek_tsv.filter", base=cast) as filt:
                frames = zeek_tsv.search(spark, root, date, proto_type=fam, src_ip=ip, typed=True)
                rows[fam] = frames[fam].collect()
            filt.counts = {"zeek_tsv.hit_rows": len(rows[fam])}
        return ip, rows


class DayRefresh:
    """Batch operator: re-run the pages pipeline for one day partition."""

    name = "day_refresh"
    warmups = 5

    def __init__(self, work: str, seed: int, threads: int) -> None:
        self.table = pagesgen.generate(os.path.join(work, "pages"), seed, PAGES_ROWS)
        self.date = self.table.days[1]
        self.out = os.path.join(work, "out")
        self.records_per_op = self.table.pages_per_day[self.date]
        self.input_bytes = self.table.day_bytes[self.date]

    def prepare(self) -> None:
        # the previous op's dirty pages are written back here, not inside
        # the next timed op
        shutil.rmtree(self.out, ignore_errors=True)
        os.sync()

    def op(self, spark: SparkSession, i: int):
        res = run_pipeline(spark, self.table.path, self.out, start=self.date, end=self.date, resume=False)
        return res["rows_in"], res["days_processed"]

    def check(self, result) -> bool:
        rows_in, days = result
        d = self.date
        if days != [d] or rows_in != self.table.pages_per_day[d]:
            return False
        http_rows = _parquet_rows(os.path.join(self.out, "sinks", "http_like", f"day={d}"))
        if http_rows != rows_in:
            return False
        conn = os.path.join(self.out, "sinks", "conn_like")
        return all(
            _parquet_rows(os.path.join(conn, f"record_type={t}", f"day={d}")) == self.table.routed[d][t]
            for t in RECORD_TYPES
        )

    def traced_op(self, spark: SparkSession, tr: Tracer, i: int):
        d, src, out = self.date, self.table.path, self.out
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        with tr.span("checkpoint.fingerprint"):
            fp = dir_fingerprint(os.path.join(src, f"day={d}"))
        with tr.span("pages.scan") as scan:
            pages = read_pages_table(spark, src, d, d)
            rows_in = force(pages)["n"]
        with tr.span("parse.http", base=scan) as http_s:
            http = parse_http_like(pages)
            force(http)
        with tr.span("enrich.enrich", base=http_s) as enrich_s:
            http_e = enrich(http, spark, host_col="host")
            seen = force(http_e, hit=F.count("registry_region"))
        enrich_s.counts = {"enrich.tld_match_ratio": seen["hit"] / max(seen["n"], 1)}
        with tr.span("parse.conn", base=scan) as conn_s:
            conn = parse_conn_like(pages, vectorized=True)
            events = force(conn)["n"]
        conn_s.counts = {"parse.events_out": events}
        sink = os.path.join(out, "sinks", "conn_like")
        with tr.span("route.write", base=conn_s) as route_s:
            route_to_sinks(conn, sink, mode="overwrite")
        files, size = tree_size(sink)
        routed = _parquet_rows(sink)
        route_s.counts = {
            "route.rows_routed": routed,
            "route.rows_dropped": events - routed,
            "route.files_written": files,
            "route.bytes_written": size,
        }
        http_dir = os.path.join(out, "sinks", "http_like")
        with tr.span("job.http_sink_write", base=enrich_s):
            (
                http_e.withColumn("day", F.date_format("ts_bucket", "yyyy-MM-dd"))
                .write.mode("overwrite").partitionBy("day").parquet(http_dir)
            )
        with tr.span("aggregate.events_per_host_hour", base=enrich_s):
            (
                events_per_host_hour(http_e, host_col="host", ts_col="ts_bucket")
                .withColumn("day", F.date_format("hour", "yyyy-MM-dd"))
                .write.mode("overwrite").partitionBy("day")
                .parquet(os.path.join(out, "agg", "events_per_host_hour"))
            )
        with tr.span("checkpoint.manifest"):
            Manifest(os.path.join(out, "_manifest")).mark_done(
                "pipeline", d, fp, UnitResult(rows_in=rows_in, rows_out=rows_in, bytes_out=0)
            )
        with tr.span("job.finalize") as fin:
            finalize(spark, out)
        written = tree_size(os.path.join(out, "sinks"))[1] + tree_size(os.path.join(out, "agg"))[1]
        fin.counts = {"job.out_bytes_per_in_byte": written / self.table.day_bytes[d]}
        return rows_in, [d]


WORKLOADS = {w.name: w for w in (IpSearch, DayRefresh)}
