"""The traced run: spans around calls into each layer, and the per-layer
metrics computed from them.

Spans (name, start, end, parent, trace id, counts) are kept in memory and
written out when the run ends. Every layer is reached from outside, by
timing calls into its public functions on the workload's own files:

- planner: ``FitsDataSource.schema`` and ``FitsScanReader.partitions``
  (which runs ``plan_for_files`` and ``fitscore.file.open_hdu``);
- vfs: ``FitsFileSystem.open_input`` plus ``read`` of each partition's
  byte range;
- decode / codec: ``fitscore.decode.decode_bintable``,
  ``tilecomp.decode_compressed_image`` and
  ``tabcomp.decode_compressed_table`` over the buffers vfs read;
- reader: ``FitsScanReader.read`` per partition, with and without the
  selective predicate pushed;
- sink: the workload's write through ``df.write.format("fits")``, then
  ``fitscore.writer``, ``fitscore.checksum`` and
  ``fits_writer.write_manifest``;
- Spark: jobs, stages, tasks, executor CPU and shuffle bytes of every
  timed action, from the status tracker and the UI's REST API on
  localhost.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager


class NullTracer:
    """The untraced run's tracer: records nothing."""

    @contextmanager
    def span(self, name: str, **counts):
        yield {}


class Tracer(NullTracer):
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0
        self.t0 = time.perf_counter()

    def new_trace(self) -> int:
        """Start a new trace id: the spans of one action or one walk."""
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def count(self, name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# -- Spark boundary ------------------------------------------------------


def _rest_stage(sc, stage_id: int, timeout: float = 5.0) -> dict | None:
    """Final UI data of one stage. The listener bus is asynchronous, so
    poll briefly until the stage reads complete."""
    port = sc.uiWebUrl.rsplit(":", 1)[-1]
    url = (f"http://localhost:{port}/api/v1/applications/"
           f"{sc.applicationId}/stages/{stage_id}")
    deadline = time.perf_counter() + timeout
    while True:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            attempts = json.load(r)
        done = [a for a in attempts if a["status"] in ("COMPLETE", "SKIPPED")]
        if len(done) == len(attempts) or time.perf_counter() > deadline:
            return attempts[-1] if attempts else None
        time.sleep(0.05)


def spark_stats(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = sorted({s for i in infos if i for s in i.stageIds})
    tasks = cpu_ns = shuffle = 0
    for s in stages:
        data = _rest_stage(sc, s)
        if data is None or data["status"] == "SKIPPED":
            continue
        tasks += data["numTasks"]
        cpu_ns += data["executorCpuTime"]
        shuffle += data["shuffleWriteBytes"]
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
            "executor_cpu_s": cpu_ns / 1e9, "shuffle_bytes": shuffle}


def traced_action(tracer: Tracer, spark, action, rec) -> None:
    """One timed action inside a span, then its Spark cost, read after
    the action's clock has stopped."""
    sc = spark.sparkContext
    group = f"perfbench-{tracer.new_trace()}"
    sc.setJobGroup(group, action.kind)
    try:
        with tracer.span(f"action.{action.kind}") as c:
            dt = rec.run(action.kind, action.run, action.check, timed=False)
            c["ok"] = int(dt is not None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    with tracer.span("spark.stats") as c:
        c.update(spark_stats(sc, group))


def _identity(batches):
    yield from batches


def identity_tasks(spark, partitions: int, tracer: Tracer) -> None:
    """Three runs of an identity ``mapInArrow`` over ``partitions``
    one-row partitions: what every Python task pays before any FITS
    work."""
    df = spark.range(0, partitions, 1, partitions).mapInArrow(
        _identity, "id long")
    for _ in range(3):
        with tracer.span("task.identity", partitions=partitions):
            df.write.format("noop").mode("overwrite").save()


# -- in-process layers ---------------------------------------------------


def _filters(predicate):
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, LessThan,
    )

    col, lo, hi = predicate
    if hi == lo + 1:
        return [EqualTo((col,), lo)]
    return [GreaterThanOrEqual((col,), lo), LessThan((col,), hi)]


def _read_schema(spark, scan) -> list[str]:
    """Columns the scan decodes for the projected query, from the
    executed plan's ``ReadSchema``."""
    from pyspark.sql import functions as F

    from perfbench.workloads import read_fits

    q = read_fits(spark, scan.path).agg(
        *[F.count(c) for c in scan.projected_columns])
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    m = re.search(r"ReadSchema: struct<([^\n]*)>", plan)
    if m is None:
        raise ValueError("no ReadSchema in the projected query's plan")
    return [re.split(r":", f, maxsplit=1)[0] for f in
            re.split(r",(?![^<]*>)", m.group(1))]


def _column_bytes(hdu, names) -> int:
    """FITS bytes per row of the named columns. A compressed image's
    ``ImgIndex`` is derived from the header, never read."""
    from spark_fits_spark.fitscore.file import HDU_TYPE_COMPIMAGE

    if hdu.hdu_type == HDU_TYPE_COMPIMAGE:
        row = hdu.z_naxis[0] * abs(hdu.z_bitpix) // 8
        return row if "Image" in names else 0
    widths = {n: i.byte_width for n, i in zip(hdu.col_names,
                                               hdu.tform_infos)}
    return sum(widths[n] for n in names)


def walk_scan(tracer: Tracer, spark, scan) -> dict:
    """Walk one dataset through planner, vfs, decode/codec and reader."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from spark_fits_spark.fitscore import decode, tabcomp, tilecomp
    from spark_fits_spark.fitscore.file import (
        HDU_TYPE_COMPIMAGE, HDU_TYPE_COMPTABLE,
    )
    from spark_fits_spark.sources.fits_datasource import (
        FitsDataSource, search_fits_files,
    )

    tracer.new_trace()
    opts = {"hdu": "1", "path": scan.path}
    cold = {**opts, "plancache": "false"}
    with tracer.span("planner.schema"):
        schema = FitsDataSource(cold).schema()
    with tracer.span("planner.plan_cold") as c:
        parts = FitsDataSource(cold).reader(schema).partitions()
        c["partitions"] = len(parts)
    warm = FitsDataSource(opts)
    warm.reader(schema).partitions()
    with tracer.span("planner.plan_warm"):
        warm.reader(schema).partitions()
    files = search_fits_files(scan.path)
    pushed = FitsDataSource(opts).reader(schema)
    list(pushed.pushFilters(_filters(scan.predicate)))
    with tracer.span("planner.plan_pruned") as c:
        kept_files = {p.hdu.path for p in pushed.partitions() if p.hdu}
        c["files"] = len(files)
        c["files_pruned"] = len(files) - len(kept_files)

    arrow_schema = to_arrow_schema(schema)
    plain = FitsDataSource(opts).reader(schema)
    for p in parts:
        hdu = p.hdu
        b = hdu.boundaries
        compressed = hdu.hdu_type in (HDU_TYPE_COMPIMAGE, HDU_TYPE_COMPTABLE)
        with tracer.span("vfs.read") as c:
            with p.fs.open_input(hdu.path) as f:
                if compressed:            # descriptor table + heap
                    f.seek(b.data_start)
                    data = f.read(b.data_len)
                else:
                    f.seek(b.data_start + p.row_start * hdu.row_bytes)
                    data = f.read((p.row_end - p.row_start) * hdu.row_bytes)
            c["bytes"] = len(data)
        if compressed:
            mv = memoryview(data)
            table = mv[p.row_start * hdu.row_bytes:p.row_end * hdu.row_bytes]

            def heap_read(off, length, mv=mv, base=hdu.theap):
                return mv[base + off:base + off + length]

            if hdu.hdu_type == HDU_TYPE_COMPIMAGE:
                with tracer.span("codec.rice") as c:
                    out = tilecomp.decode_compressed_image(
                        table, hdu, p.row_start, arrow_schema, heap_read)
                    c["bytes"] = (out.num_rows * hdu.z_naxis[0]
                                  * abs(hdu.z_bitpix) // 8)
            else:
                with tracer.span("codec.comptable") as c:
                    out = tabcomp.decode_compressed_table(
                        table, hdu, p.row_start, arrow_schema,
                        p.col_indices, heap_read)
                    c["bytes"] = out.num_rows * hdu.zt_row_bytes
        else:
            with tracer.span("decode") as c:
                out = decode.decode_bintable(data, hdu, p.col_indices,
                                             arrow_schema)
                c["rows"] = out.num_rows
                c["bytes"] = len(data)
        del data, out

        # the same partition through the reader, without and with the
        # selective predicate: the difference is the filter-mask cost
        with tracer.span("reader.read") as c:
            c["rows"] = sum(x.num_rows for x in plain.read(p))
        with tracer.span("reader.read_filtered") as c:
            c["rows"] = sum(x.num_rows for x in pushed.read(p))

    hdu0 = next(p.hdu for p in parts if p.hdu)
    decoded = _column_bytes(hdu0, _read_schema(spark, scan))
    used = _column_bytes(hdu0, scan.projected_columns)
    return {"decoded_per_used_bytes": decoded / used}


def walk_sink(tracer: Tracer, spark, workload, rec) -> None:
    """Time the workload's checked write through the sink twice, then
    the sink's building blocks on part-sized inputs."""
    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.fitscore.checksum import apply_checksums
    from spark_fits_spark.fitscore.vfs import LOCAL
    from spark_fits_spark.sources.fits_writer import (
        build_manifest_entry, write_manifest,
    )

    from perfbench import fixtures as fx

    tracer.new_trace()
    write = workload.write_action(spark)
    for _ in range(2):
        with tracer.span("sink.write"):
            rec.run(write.kind, write.run, write.check, timed=False)
    out_dir = os.path.join(workload.work_dir, "sink-layer")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(workload.seed)
    rows = workload.rows_per_part
    for i in range(16):
        cols = fx.catalog_columns(rng, i * rows, rows)
        path = os.path.join(out_dir, f"part-{i:05d}.fits")
        with tracer.span("sink.encode") as c:
            hdu = fw.bintable_hdu(cols)
            fw.write_fits(path, [hdu])
            c["bytes"] = rows * fx.CATALOG_ROW_BYTES
        # an HDU that carries the CHECKSUM/DATASUM cards, re-summed
        summed = fw.bintable_hdu(cols, checksum=True)
        with tracer.span("sink.checksum") as c:
            apply_checksums(summed)
            c["bytes"] = rows * fx.CATALOG_ROW_BYTES
    parts = sorted(f for f in os.listdir(workload.dir) if f.endswith(".fits"))
    entries = {f: build_manifest_entry(LOCAL, os.path.join(workload.dir, f))
               for f in parts}
    for _ in range(3):
        with tracer.span("sink.manifest", files=len(entries)):
            write_manifest(LOCAL, out_dir, entries, merge=False)


def layer_metrics(spark, workload, rec, tracer: Tracer) -> dict:
    """Every per-layer metric. A layer the workload does not exercise
    reports 0: it did no work there."""
    from perfbench.run import nproc, spec

    slots = nproc()
    with tracer.span("walk"):
        ratios = [walk_scan(tracer, spark, s) for s in workload.scans()]
        writes = hasattr(workload, "write_action")
        if writes:
            walk_sink(tracer, spark, workload, rec)
        identity_tasks(spark, workload.partitions_scanned(), tracer)

    def mbps(name):
        t = tracer.total(name)
        return tracer.count(name, "bytes") / 1e6 / t if t else 0.0

    def first(name):
        d = tracer.durations(name)
        return d[0] if d else 0.0

    def med(name):
        d = tracer.durations(name)
        return statistics.median(d) if d else 0.0

    stats = [s["counts"] for s in tracer.spans if s["name"] == "spark.stats"]

    def per_action(key):
        return statistics.mean(s[key] for s in stats) if stats else 0.0

    reader_s = tracer.total("reader.read")
    decoded = tracer.count("reader.read", "rows")
    kept = tracer.count("reader.read_filtered", "rows")
    scan_walls = rec.samples.get("scan", [])
    identity = tracer.durations("task.identity")
    parts = workload.partitions_scanned()
    n_files = (len([f for f in os.listdir(workload.dir)
                    if f.endswith(".fits")]) if writes else 0)
    values = {
        "session.build_s": first("session.build"),
        "session.first_action_s": first("session.first_action"),
        "planner.schema_s": tracer.total("planner.schema"),
        "planner.plan_cold_s": tracer.total("planner.plan_cold"),
        "planner.plan_warm_s": tracer.total("planner.plan_warm"),
        "planner.files": tracer.count("planner.plan_pruned", "files"),
        "planner.partitions": tracer.count("planner.plan_cold", "partitions"),
        "planner.files_pruned": tracer.count("planner.plan_pruned",
                                             "files_pruned"),
        "vfs.bytes_read": tracer.count("vfs.read", "bytes"),
        "vfs.read_s": tracer.total("vfs.read"),
        "vfs.mb_per_s": mbps("vfs.read"),
        "decode.s": tracer.total("decode"),
        "decode.rows": tracer.count("decode", "rows"),
        "decode.mb_per_s": mbps("decode"),
        "codec.rice_mb_per_s": mbps("codec.rice"),
        "codec.comptable_mb_per_s": mbps("codec.comptable"),
        "reader.s": reader_s,
        "reader.rows_decoded": decoded,
        "reader.rows_kept": kept,
        "reader.keep_ratio": kept / decoded if decoded else 0.0,
        "reader.filter_s": tracer.total("reader.read_filtered") - reader_s,
        "reader.decoded_per_used_bytes": ratios[0]["decoded_per_used_bytes"],
        "spark.jobs": per_action("jobs"),
        "spark.stages": per_action("stages"),
        "spark.tasks": per_action("tasks"),
        "spark.executor_cpu_s": per_action("executor_cpu_s"),
        "spark.shuffle_bytes": per_action("shuffle_bytes"),
        "task.python_fixed_s": (statistics.median(identity) * slots / parts
                                if identity else 0.0),
        "handoff.s": (statistics.median(scan_walls) - reader_s / slots
                      if scan_walls else 0.0),
        "sink.write_mb_per_s": (workload.scan_bytes / 1e6
                                / med("sink.write") if writes else 0.0),
        "sink.encode_mb_per_s": mbps("sink.encode"),
        "sink.checksum_mb_per_s": mbps("sink.checksum"),
        "sink.manifest_s": med("sink.manifest"),
        "sink.files": n_files,
        "trace.overhead_s": _trace_overhead(tracer, rec),
    }
    units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    return {k: {"value": float(v), "unit": units[k]}
            for k, v in values.items()}


def _trace_overhead(tracer: Tracer, rec) -> float:
    """Median traced action wall minus median untraced action wall, per
    kind, summed over kinds. The twins swap order every pass, over an
    even number of passes, so warm-up still under way favours neither."""
    total = 0.0
    for kind, untraced in rec.samples.items():
        traced = [s["end"] - s["start"] for s in tracer.spans
                  if s["name"] == f"action.{kind}" and s["counts"]["ok"]]
        if traced and untraced:
            total += statistics.median(traced) - statistics.median(untraced)
    return total
