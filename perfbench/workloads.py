"""The benchmark's workloads: seeded fixtures plus the checked actions a
run repeats.

A workload's ``generate`` writes the fixtures (excluded from every
metric), ``actions`` returns the action mix (one closure per kind, each
with its check) and ``scans`` the datasets the traced run walks layer by
layer.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench import fixtures as fx


@dataclass
class Scan:
    """One dataset a workload scans, as the traced run sees it."""

    path: str
    logical_bytes: int
    #: the selective predicate as (column, lo, hi): lo <= column < hi
    predicate: tuple[str, int, int]
    #: columns the projected query references
    projected_columns: tuple[str, ...]


@dataclass
class Action:
    kind: str
    run: object          # () -> result
    check: object        # result -> bool
    #: False: run once per run, as the set-up's first FITS action, and
    #: never in the timed mix
    repeat: bool = True


def read_fits(spark, path: str, **options):
    reader = spark.read.format("fits").option("hdu", 1)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def _pixel_sum():
    return F.sum(F.aggregate("Image", F.lit(0).cast("long"),
                             lambda acc, x: acc + x))


def _noop_scan(spark, path: str, *aggs) -> tuple:
    """Every column into the ``noop`` sink; an observation computes
    ``aggs`` on the way, so the scan is checked."""
    from pyspark.sql import Observation

    obs = Observation()
    read_fits(spark, path).observe(
        obs, *[a.alias(f"a{i}") for i, a in enumerate(aggs)]
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return tuple(got[f"a{i}"] for i in range(len(aggs)))


def _catalog_queries(spark, path: str, truth: fx.CatalogTruth) -> dict:
    """The four query kinds over a catalog, by kind."""
    def df():
        return read_fits(spark, path)

    def grouped():
        bucket = F.floor((F.col("Dec") + 90.0) / fx.DEC_BUCKET_DEG)
        rows = df().groupBy(bucket.alias("b")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("Index").alias("s")).collect()
        return ({r["b"]: r["n"] for r in rows},
                {r["b"]: r["s"] for r in rows})

    lo, hi = truth.sel_lo, truth.sel_hi
    return {
        "scan": Action(
            "scan",
            lambda: _noop_scan(spark, path, F.count(F.lit(1)),
                               F.sum("Index")),
            lambda r: r == (truth.n_rows, truth.index_sum)),
        "projected": Action(
            "projected", lambda: df().agg(F.sum("Index")).first()[0],
            lambda r: r == truth.index_sum),
        "selective": Action(
            "selective",
            lambda: tuple(df().filter(
                (F.col("Index") >= lo) & (F.col("Index") < hi)).agg(
                F.count(F.lit(1)), F.sum("Index")).first()),
            lambda r: r == (truth.sel_rows, truth.sel_index_sum)),
        "grouped": Action(
            "grouped", grouped,
            lambda r: r == (truth.bucket_counts, truth.bucket_index_sums)),
    }


class Workload:
    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def actions(self, spark) -> list[Action]:
        raise NotImplementedError

    def scans(self) -> list[Scan]:
        raise NotImplementedError

    def partitions_scanned(self) -> int:
        """Partitions of the full scan, for the identity-task probe."""
        raise NotImplementedError

    @property
    def scan_bytes(self) -> int:
        return sum(s.logical_bytes for s in self.scans())


class CatalogScan(Workload):
    """Few large files: a catalog of plain BINTABLE files with one GZIP_2
    tile-compressed member, and a directory of RICE_1 cubes."""

    name = "catalog_scan"
    n_files = 4
    rows_per_file = 500_000
    n_cubes = 4
    cube_shape = (16, 32, 1024)          # planes, rows, columns

    def generate(self) -> None:
        self.catalog_dir = os.path.join(self.work_dir, "catalog")
        self.cube_dir = os.path.join(self.work_dir, "cubes")
        self.catalog = fx.write_catalog(self.catalog_dir, self.seed,
                                        self.n_files, self.rows_per_file,
                                        gzip2_files=1)
        self.cubes = fx.write_cubes(self.cube_dir, self.seed + 1,
                                    self.n_cubes, self.cube_shape)

    def actions(self, spark) -> list[Action]:
        q = _catalog_queries(spark, self.catalog_dir, self.catalog.catalog)
        cat, cub = self.catalog.catalog, self.cubes.cubes

        def scan():
            return (q["scan"].run(),
                    _noop_scan(spark, self.cube_dir, F.count(F.lit(1)),
                               _pixel_sum()))

        return [
            Action("scan", scan, lambda r: r == (
                (cat.n_rows, cat.index_sum), (cub.image_rows, cub.pixel_sum))),
            q["projected"], q["selective"], q["grouped"],
        ]

    def scans(self) -> list[Scan]:
        t, c = self.catalog.catalog, self.cubes.cubes
        return [
            Scan(self.catalog_dir, self.catalog.data_bytes,
                 ("Index", t.sel_lo, t.sel_hi), ("Index",)),
            Scan(self.cube_dir, self.cubes.data_bytes,
                 ("ImgIndex", c.sel_plane, c.sel_plane + 1), ("Image",)),
        ]

    def partitions_scanned(self) -> int:
        return self.n_files + self.n_cubes


class ManyFiles(Workload):
    """A catalog written by the FITS sink into sub-MB part files once per
    run, then queried."""

    name = "many_files"
    n_parts = 8
    rows_per_part = 16_384

    def generate(self) -> None:
        src = os.path.join(self.work_dir, "source")
        self.fix = fx.write_catalog(src, self.seed, 1,
                                    self.n_parts * self.rows_per_part)
        self.src = self.fix.files[0]
        self.dir = os.path.join(self.work_dir, "parts")

    def write(self, spark) -> tuple[int, int]:
        """The catalog through the sink (default options: manifest and
        TDMINn/TDMAXn stats). Row-aligned source partitions of exactly
        ``rows_per_part`` rows give one part file each."""
        read_fits(spark, self.src, partitionbytes=str(
            self.rows_per_part * fx.CATALOG_ROW_BYTES)
        ).write.format("fits").mode("overwrite").save(self.dir)
        parts = [f for f in os.listdir(self.dir) if f.endswith(".fits")]
        with open(os.path.join(self.dir, "_fits_manifest.json")) as f:
            manifest = json.load(f)
        rows = sum(e["n_rows"] for e in manifest["files"].values())
        return (len(parts), rows)

    def write_action(self, spark) -> Action:
        n = self.fix.catalog.n_rows
        return Action("write", lambda: self.write(spark),
                      lambda r: r == (self.n_parts, n), repeat=False)

    def actions(self, spark) -> list[Action]:
        q = _catalog_queries(spark, self.dir, self.fix.catalog)
        return [self.write_action(spark)] + list(q.values())

    def scans(self) -> list[Scan]:
        t = self.fix.catalog
        return [Scan(self.dir, self.fix.data_bytes,
                     ("Index", t.sel_lo, t.sel_hi), ("Index",))]

    def partitions_scanned(self) -> int:
        return self.n_parts


WORKLOADS = {w.name: w for w in (CatalogScan, ManyFiles)}
