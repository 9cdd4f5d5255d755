"""Seeded, vectorised FITS fixtures for the benchmark, with the values
every checked action must return.

Everything a query is checked against is derived here from the generated
arrays, never read back through the engine. Generation is numpy only (no
per-row Python), so it stays a small share of a run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from spark_fits_spark.fitscore import writer as fw

#: catalog row: target 10A, RA E, Dec D, Index K, RunId I
CATALOG_ROW_BYTES = 32
#: coarse Dec bucket used by the grouped aggregate (18 buckets)
DEC_BUCKET_DEG = 10.0


@dataclass
class CatalogTruth:
    """What a correct engine returns for a catalog of ``n_rows`` rows
    whose ``Index`` runs 0..n_rows-1 in file order."""

    n_rows: int
    sel_lo: int                      # selective predicate Index in [lo, hi)
    sel_hi: int
    bucket_counts: dict[int, int]    # floor((Dec + 90) / 10) -> rows
    bucket_index_sums: dict[int, int]

    @property
    def index_sum(self) -> int:
        return self.n_rows * (self.n_rows - 1) // 2

    @property
    def sel_rows(self) -> int:
        return self.sel_hi - self.sel_lo

    @property
    def sel_index_sum(self) -> int:
        lo, hi = self.sel_lo, self.sel_hi
        return (hi * (hi - 1) - lo * (lo - 1)) // 2


@dataclass
class CubeTruth:
    """Expected values for a directory of int32 cubes."""

    plane_pixel_sums: np.ndarray     # (cube, plane) pixel sums
    rows_per_plane: int
    sel_plane: int                   # traced run's predicate ImgIndex = k

    @property
    def image_rows(self) -> int:
        return self.plane_pixel_sums.size * self.rows_per_plane

    @property
    def pixel_sum(self) -> int:
        return int(self.plane_pixel_sums.sum())



@dataclass
class Fixtures:
    files: list[str] = field(default_factory=list)
    data_bytes: int = 0              # HDU data bytes (logical for compressed)
    catalog: CatalogTruth | None = None
    cubes: CubeTruth | None = None


def _targets(index: np.ndarray) -> np.ndarray:
    """``T`` + 9 zero-padded digits of the index, as ``S10``, without a
    per-row format call."""
    powers = 10 ** np.arange(8, -1, -1, dtype=np.int64)
    digits = (index[:, None] // powers) % 10 + ord("0")
    out = np.empty((len(index), 10), dtype=np.uint8)
    out[:, 0] = ord("T")
    out[:, 1:] = digits
    return out.view("S10").reshape(-1)


def catalog_columns(rng: np.random.Generator, start: int, n: int):
    """One file's worth of catalog columns, rows ``start .. start+n-1``."""
    index = np.arange(start, start + n, dtype=np.int64)
    ra = rng.uniform(0.0, 360.0, n).astype(np.float32)
    dec = rng.uniform(-90.0, 90.0, n)
    run = rng.integers(0, 1000, n, dtype=np.int16)
    return [("target", "10A", _targets(index)), ("RA", "E", ra),
            ("Dec", "D", dec), ("Index", "K", index), ("RunId", "I", run)]


def dec_bucket(dec: np.ndarray) -> np.ndarray:
    """The grouped aggregate's key, with Spark's double arithmetic."""
    return np.floor((dec + 90.0) / DEC_BUCKET_DEG).astype(np.int64)


class _TruthAccumulator:
    def __init__(self):
        self.counts = np.zeros(64, dtype=np.int64)
        self.sums = np.zeros(64, dtype=np.int64)

    def add(self, columns) -> None:
        cols = {name: vals for name, _t, vals in columns}
        b = dec_bucket(cols["Dec"])
        self.counts += np.bincount(b, minlength=64)[:64]
        self.sums += np.bincount(b, weights=cols["Index"],
                                 minlength=64)[:64].astype(np.int64)

    def truth(self, n_rows: int, rng: np.random.Generator) -> CatalogTruth:
        width = max(1, n_rows // 100)          # keeps ~1% of rows
        lo = int(rng.integers(0, n_rows - width + 1))
        nz = np.nonzero(self.counts)[0]
        return CatalogTruth(
            n_rows=n_rows, sel_lo=lo, sel_hi=lo + width,
            bucket_counts={int(k): int(self.counts[k]) for k in nz},
            bucket_index_sums={int(k): int(self.sums[k]) for k in nz})


def write_catalog(directory: str, seed: int, n_files: int,
                  rows_per_file: int, gzip2_files: int = 0) -> Fixtures:
    """``n_files`` BINTABLE files of the 5-column catalog; the last
    ``gzip2_files`` of them are written as GZIP_2 tile-compressed tables
    (1,000 rows per tile), which scan back with the same schema."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    acc = _TruthAccumulator()
    out = Fixtures()
    for i in range(n_files):
        cols = catalog_columns(rng, i * rows_per_file, rows_per_file)
        acc.add(cols)
        path = os.path.join(directory, f"catalog-{i:03d}.fits")
        if i >= n_files - gzip2_files:
            hdu = fw.compressed_bintable_hdu(cols, tile_rows=1000,
                                             ctypes="GZIP_2")
        else:
            hdu = fw.bintable_hdu(cols)
        fw.write_fits(path, [hdu])
        out.files.append(path)
    n = n_files * rows_per_file
    out.data_bytes = n * CATALOG_ROW_BYTES
    out.catalog = acc.truth(n, rng)
    return out


def sky_cube(rng: np.random.Generator, shape: tuple[int, int, int]
             ) -> np.ndarray:
    """Sky-background-like int32 pixels: a per-plane level plus Poisson
    noise (the regime fpack's RICE_1 is built for)."""
    level = rng.integers(500, 1500, shape[0]).astype(np.int32)
    return level[:, None, None] + rng.poisson(30, shape).astype(np.int32)


def write_cubes(directory: str, seed: int, n_cubes: int,
                shape: tuple[int, int, int]) -> Fixtures:
    """``n_cubes`` RICE_1 tile-compressed int32 cubes of ``shape``
    (planes, rows, columns), one image row per tile as fpack writes
    them."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    out = Fixtures()
    plane_sums = []
    for i in range(n_cubes):
        cube = sky_cube(rng, shape)
        plane_sums.append(cube.sum(axis=(1, 2), dtype=np.int64))
        path = os.path.join(directory, f"cube-{i:03d}.fits")
        fw.write_fits(path, [fw.compressed_image_hdu(
            cube, "RICE_1", tile_rows=1)])
        out.files.append(path)
    out.data_bytes = n_cubes * int(np.prod(shape)) * 4
    out.cubes = CubeTruth(plane_pixel_sums=np.stack(plane_sums),
                          rows_per_plane=shape[1],
                          sel_plane=int(rng.integers(0, shape[0])))
    return out
