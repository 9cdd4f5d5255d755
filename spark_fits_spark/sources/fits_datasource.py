"""The ``fits`` Spark data source — Python Data Source API (Spark ≥ 4.0).

PySpark-native replacement for the reference's DSv1 relation
(``DefaultSource.scala`` + ``FitsSourceRelation.scala`` +
``FitsFileInputFormat.scala`` + ``FitsRecordReader.scala``). User surface
is verbatim-compatible (``docs/02_api.md:8-164``)::

    spark.dataSource.register(FitsDataSource)
    df = (spark.read.format("fits")
          .option("hdu", 1)            # mandatory (FitsSourceRelation.scala:114-120)
          .option("columns", "a,b")    # optional source-side pruning
          .option("recordlength", n)   # optional batch sizing (bytes)
          .option("mode", "PERMISSIVE")# or FAILFAST
          .load(path))                 # file | dir | glob | comma-list

Design deltas vs the reference (SURVEY.md §7):
- Partitions are **row-aligned by construction** (``data_start + k·rowSize``),
  eliminating the reference's split realignment (``FitsRecordReader.scala:
  230-263, 334-367``) while preserving its invariants (no duplicate rows,
  no lost rows, file order preserved) — pinned by tests.
- Decode is vectorized (numpy structured dtype → Arrow RecordBatch) in
  ``fitscore.decode`` instead of per-element ByteBuffer reads.
- Header + boundaries are parsed once on the driver and shipped inside
  pickled partition objects (replacing the Hadoop-conf broadcast,
  ``FitsLib.scala:615-629``).
- Filter pushdown (absent in the reference, which is ``TableScan``-only,
  ``FitsSourceRelation.scala:96-97``): supported predicates are applied
  as numpy masks before Arrow conversion.

Scale notes (100 TB target): one partition ≈ ``partitionbytes`` (default
128 MB) of row-aligned data; a 100 TB dataset yields ~800k partitions,
which Spark schedules fine. Driver-side planning reads only headers
(a few KB per file). No driver collects, no per-row Python.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StringType, StructField, StructType

from spark_fits_spark.fitscore.file import (
    HDU_TYPE_BINTABLE,
    HDU_TYPE_COMPIMAGE,
    HDU_TYPE_COMPTABLE,
    HDU_TYPE_IMAGE,
    HDU_TYPE_TABLE,
    HduInfo,
    open_hdu,
)
from spark_fits_spark.fitscore.types import parse_tform
from spark_fits_spark.fitscore.vfs import (
    LOCAL,
    FitsFileSystem,
    iter_path_specs,
    resolve_fs,
)

logger = logging.getLogger(__name__)

DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024
DEFAULT_BATCH_BYTES = 32 * 1024 * 1024

# -- driver-side header-plan cache ----------------------------------------
# The Python Data Source API re-plans on EVERY action (each query
# execution instantiates a fresh reader and calls partitions()), so a
# notebook running ten aggregations over the same 2,000-file catalog
# re-reads 2,000 headers ten times. HduInfo is a frozen pure function
# of the file bytes + hdu index, so cache it keyed by
# (path, hdu, size, mtime) — exactly Spark's shared FileStatusCache
# contract for file indexes: an in-place rewrite that preserves both
# size and mtime within filesystem mtime granularity is stale, anything
# else invalidates. A stat (or one object-store HEAD) replaces an
# open + multi-KB header walk on hits. Bounded LRU; thread-safe because
# plan_for_files opens headers from a thread pool.
from collections import OrderedDict
from threading import Lock

_HDU_CACHE: "OrderedDict[tuple, HduInfo]" = OrderedDict()
_HDU_CACHE_MAX = 65536
_HDU_CACHE_LOCK = Lock()
_HDU_CACHE_STATS = {"hits": 0, "misses": 0}


def _hdu_cache_get(key):
    with _HDU_CACHE_LOCK:
        hit = _HDU_CACHE.get(key)
        if hit is not None:
            _HDU_CACHE.move_to_end(key)
            _HDU_CACHE_STATS["hits"] += 1
        else:
            _HDU_CACHE_STATS["misses"] += 1
        return hit


def _hdu_cache_put(key, hdu: HduInfo) -> None:
    with _HDU_CACHE_LOCK:
        _HDU_CACHE[key] = hdu
        _HDU_CACHE.move_to_end(key)
        while len(_HDU_CACHE) > _HDU_CACHE_MAX:
            _HDU_CACHE.popitem(last=False)

#: schema of empty / ASCII-table HDUs (FitsSchema.scala:118-128)
EMPTY_SCHEMA = StructType([StructField("empty", StringType(), True)])


def search_fits_files(path: str) -> list[str]:
    """Resolve a path spec into a sorted file list.

    Accepts a single file, a directory (recursive, ``.fits`` suffix
    filter), a glob pattern, or a comma-separated list of any of these
    (``FitsSourceRelation.scala:133-177``). Schemes other than local
    (``s3://``, ``hdfs://``, ``memory://``, ...) dispatch through the
    VFS layer, matching the reference's Hadoop-FS path resolution."""
    out: list[str] = []
    for spec, fs in iter_path_specs(path):
        if fs.isdir(spec):
            out.extend(
                f for f in fs.walk_files(spec) if f.lower().endswith(".fits")
            )
        elif any(ch in spec for ch in "*?["):
            out.extend(fs.glob(spec))
        else:
            if not fs.isfile(spec):
                raise FileNotFoundError(f"FITS path not found: {spec}")
            out.append(spec)
    if not out:
        raise FileNotFoundError(f"No FITS files found under: {path}")
    return sorted(out)


@dataclass
class FitsInputPartition(InputPartition):
    """One row-aligned byte range of one file's HDU."""

    hdu: HduInfo
    row_start: int
    row_end: int
    # schema-ordered indices of selected columns (bintable only)
    col_indices: list[int] = field(default_factory=list)
    # filesystem handle, resolved driver-side at plan time and pickled
    # into the task (remote backends reconnect lazily; memory:// carries
    # its bytes by value — see fitscore.vfs)
    fs: FitsFileSystem = field(default_factory=lambda: LOCAL)
    # logical image-row [lo, hi) bounds for `rowrange` on a
    # tile-compressed image: partitions address whole tiles, boundary
    # tiles decode then slice to these rows (None = no trim)
    trim: tuple[int, int] | None = None


def _bintable_schema(hdu: HduInfo, scaling: bool = False) -> StructType:
    from spark_fits_spark.fitscore.types import scaled_spark_type

    fields = []
    for i, (name, tform) in enumerate(zip(hdu.col_names, hdu.col_tforms)):
        info = parse_tform(tform)
        dtype = (
            scaled_spark_type(
                info,
                hdu.col_tscal[i] if hdu.col_tscal else 1.0,
                hdu.col_tzero[i] if hdu.col_tzero else 0.0,
            )
            if scaling else info.spark_type
        )
        fields.append(StructField(name, dtype, True))
    return StructType(fields)


def _image_schema(hdu: HduInfo, scaling: bool = False) -> StructType:
    from pyspark.sql.types import ArrayType, LongType

    info = parse_tform(hdu.image_tform)
    if scaling and hdu.col_tscal:
        from spark_fits_spark.fitscore.types import scaled_spark_type

        elem = scaled_spark_type(info, hdu.col_tscal[0], hdu.col_tzero[0])
    else:
        elem = info.spark_type
    return StructType([
        StructField("Image", ArrayType(elem, True), True),
        StructField("ImgIndex", LongType(), True),
    ])


def _select_image_schema(schema: StructType, columns: str | None
                         ) -> StructType:
    """Apply the ``columns`` option to the image schema (case-
    insensitive, option order — same contract as the bintable path):
    ``Image`` and/or ``ImgIndex``. Selecting only ``ImgIndex`` turns the
    scan into a ZERO-I/O plane enumeration (see read())."""
    if not columns:
        return schema
    lower = {f.name.lower(): f for f in schema.fields}
    out = []
    for want in (c.strip() for c in columns.split(",")):
        if not want:
            continue
        f = lower.get(want.lower())
        if f is None:
            raise ValueError(
                f"Column {want!r} not found in image columns "
                f"{[f.name for f in schema.fields]}")
        out.append(f)
    return StructType(out) if out else schema


def _schema_signature(hdu: HduInfo, scaling: bool = False):
    """Conformance key for multi-file scans. Bintable columns compare by
    name + **Spark logical type**, not raw TFORM: part files whose
    string widths (``10A`` vs ``12A``) or vector repeats differ still
    decode to the identical DataFrame schema, so they must conform —
    comparing raw TFORMs silently dropped rows on a writer round-trip
    whose partitions had different max string lengths (r1 ADVICE).
    Differing base types (``J`` vs ``K``) still mismatch."""
    if hdu.hdu_type in (HDU_TYPE_BINTABLE, HDU_TYPE_COMPTABLE):
        # comptables share the "bintable" kind: compressed and plain
        # parts of one logical table decode to the identical schema
        # (col_names/col_tforms hold the LOGICAL schema), so they
        # conform — the compimage/image rule applied to tables
        return ("bintable", hdu.col_names,
                tuple(f.dataType.simpleString()
                      for f in _bintable_schema(hdu, scaling=scaling)))
    if hdu.hdu_type == HDU_TYPE_IMAGE:
        return ("image", hdu.naxis[:1], hdu.image_tform)
    if hdu.hdu_type == HDU_TYPE_COMPIMAGE:
        # same KIND as a plain image: compressed and uncompressed parts
        # of one logical dataset (or parts using different codecs)
        # decode to the identical (Image, ImgIndex) schema, so they
        # must conform — mirroring the bintable rule of comparing
        # logical types, not physical encodings
        return ("image", hdu.z_naxis[:1], hdu.image_tform)
    if hdu.hdu_type == HDU_TYPE_TABLE:
        return ("table", hdu.col_names, hdu.col_tforms, hdu.col_tbcols)
    return ("empty",)


class FitsDataSource(DataSource):
    """Registered under short name ``fits`` (``DefaultSource.scala:31``)."""

    @classmethod
    def name(cls) -> str:
        return "fits"

    def _opt(self, *names: str, default: str | None = None) -> str | None:
        for n in names:
            for k, v in self.options.items():
                if k.lower() == n.lower():
                    return v
        return default

    def _hdu_index(self) -> int | str:
        raw = self._opt("hdu")
        if raw is None:
            raise ValueError(
                "You need to specify the HDU to be read: "
                '.option("hdu", <int>) is mandatory'
            )
        try:
            return int(raw)
        except ValueError:
            # beyond-reference: select by EXTNAME (resolved per file)
            return raw

    def _path(self) -> str:
        p = self._opt("path")
        if p is None:
            raise ValueError("No path specified: .load(path) is required")
        return p

    def _first_hdu(self) -> HduInfo:
        files = search_fits_files(self._path())
        hdu_index = self._hdu_index()
        fs = resolve_fs(files[0])
        key = None
        if self._plan_cache_enabled():
            try:
                key = (files[0], hdu_index, *fs.stat(files[0]))
            except (OSError, FileNotFoundError, NotImplementedError):
                key = None
        if key is not None:
            hit = _hdu_cache_get(key)
            if hit is not None:
                return hit
        with fs.open_input(files[0]) as f:
            hdu = open_hdu(f, files[0], hdu_index)
        if key is not None:
            _hdu_cache_put(key, hdu)
        return hdu

    def schema(self) -> StructType:
        """Driver-side schema inference from the first file's header
        (``FitsSourceRelation.scala:364-377``). ``columns`` option prunes
        here (case-insensitive match, ``FitsHduBintable.scala:306-325``)."""
        hdu = self._first_hdu()
        if hdu.hdu_type in (HDU_TYPE_BINTABLE, HDU_TYPE_COMPTABLE):
            if hdu.hdu_type == HDU_TYPE_COMPTABLE:
                # fail fast at planning time on unsupported codecs /
                # column types, not per task
                from spark_fits_spark.fitscore import tabcomp

                for tform, ct in zip(hdu.col_tforms, hdu.zt_ctyps):
                    tabcomp.check_table_codec(ct, parse_tform(tform))
            schema = _bintable_schema(hdu, scaling=self._scaling_enabled())
            cols = self._opt("columns")
            if cols:
                schema = StructType(
                    [schema[i] for i in _select_columns(hdu, cols)]
                )
            return schema
        if hdu.hdu_type == HDU_TYPE_IMAGE:
            return _select_image_schema(
                _image_schema(hdu, scaling=self._scaling_enabled()),
                self._opt("columns"))
        if hdu.hdu_type == HDU_TYPE_COMPIMAGE:
            # tiled-compressed image: logical (Image, ImgIndex) schema
            # from ZBITPIX (scaling-aware via the BSCALE/BZERO cards
            # open_hdu carried over); fail fast at planning time on
            # unsupported codecs/pixel types/tile grids, not per task
            from spark_fits_spark.fitscore import tilecomp

            tilecomp._np_dtype(hdu.z_bitpix)
            tilecomp.tile_layout(hdu.z_naxis, hdu.z_tile)
            if hdu.z_cmptype not in tilecomp.SUPPORTED_CODECS:
                raise tilecomp._codec_error(hdu.z_cmptype)
            if hdu.z_cmptype == "RICE_1" and hdu.z_bitpix not in (16, 32):
                quant_ok = (
                    hdu.z_bitpix in (-32, -64)
                    and {"ZSCALE", "ZZERO"} <= set(hdu.col_names)
                    and hdu.z_quantiz in ("", "NO_DITHER",
                                          "SUBTRACTIVE_DITHER_1",
                                          "SUBTRACTIVE_DITHER_2"))
                if not quant_ok:
                    raise NotImplementedError(
                        f"RICE_1 supports ZBITPIX 16/32, or quantized "
                        f"floats with per-tile ZSCALE/ZZERO columns and "
                        f"ZQUANTIZ=NO_DITHER / SUBTRACTIVE_DITHER_1/2 (got "
                        f"ZBITPIX={hdu.z_bitpix}, "
                        f"ZQUANTIZ={hdu.z_quantiz!r}, columns="
                        f"{list(hdu.col_names)}); 64-bit ints are not "
                        "implemented")
                if (hdu.z_quantiz in ("SUBTRACTIVE_DITHER_1",
                                      "SUBTRACTIVE_DITHER_2")
                        and not 1 <= hdu.z_dither0 <= tilecomp.N_RANDOM):
                    raise ValueError(
                        f"{hdu.z_quantiz} requires a ZDITHER0 card "
                        f"in 1..{tilecomp.N_RANDOM} to reconstruct pixel "
                        f"values, got {hdu.z_dither0}")
            return _select_image_schema(
                _image_schema(hdu, scaling=self._scaling_enabled()),
                self._opt("columns"))
        if hdu.hdu_type == HDU_TYPE_TABLE and self._ascii_enabled():
            # beyond-reference: opt-in ASCII-table parsing (the default
            # stays an empty DataFrame for parity, ReadFitsTest.scala:118-125)
            from spark_fits_spark.fitscore.decode import ascii_table_spark_type

            schema = StructType([
                StructField(n, ascii_table_spark_type(t), True)
                for n, t in zip(hdu.col_names, hdu.col_tforms)
            ])
            cols = self._opt("columns")
            if cols:
                schema = StructType(
                    [schema[i] for i in _select_columns(hdu, cols)]
                )
            return schema
        return EMPTY_SCHEMA

    def _ascii_enabled(self) -> bool:
        return (self._opt("asciitable", default="false") or "").lower() == "true"

    def _scaling_enabled(self) -> bool:
        """Beyond-reference: .option("scaling", True) decodes physical
        values (raw*TSCAL+TZERO, TNULL→NULL; SURVEY.md §1.2 lists these
        as unsupported in the reference)."""
        return (self._opt("scaling", default="false") or "").lower() == "true"

    def writer(self, schema: StructType, overwrite: bool):
        """FITS sink (beyond-reference; see ``fits_writer``). Overwrite
        clears previous part files driver-side before tasks run."""
        from spark_fits_spark.sources.fits_writer import FitsArrowWriter

        path = self._path()
        fs = resolve_fs(path)
        if overwrite and fs.isdir(path):
            from spark_fits_spark.sources.fits_writer import MANIFEST_NAME

            for f in fs.listdir(path):
                if f.endswith(".fits") or f == MANIFEST_NAME:
                    fs.remove(fs.join(path, f))
        fs.makedirs(path)
        return FitsArrowWriter(schema, path, self.options, fs=fs)

    def reader(self, schema: StructType) -> "FitsScanReader":
        return FitsScanReader(
            path=self._path(),
            hdu_index=self._hdu_index(),
            schema=schema,
            columns=self._opt("columns"),
            recordlength=self._opt("recordlength"),
            mode=(self._opt("mode", default="PERMISSIVE") or "PERMISSIVE").upper(),
            partition_bytes=int(
                self._opt("partitionbytes", "partition_bytes",
                          default=str(DEFAULT_PARTITION_BYTES))
            ),
            verbose=(self._opt("verbose", default="false") or "").lower() == "true",
            ascii_tables=self._ascii_enabled(),
            scaling=self._scaling_enabled(),
            rowrange=self._rowrange(),
            plan_cache=self._plan_cache_enabled(),
            use_manifest=(self._opt("manifest", default="true")
                          or "").lower() != "false",
        )

    def _plan_cache_enabled(self) -> bool:
        """``.option("plancache", False)`` bypasses the driver-side
        header LRU — the escape hatch for the one staleness hole in its
        (size, mtime) key: an in-place rewrite that preserves both
        within filesystem mtime granularity (same contract knob as
        Spark's file-index metadata cache TTL)."""
        return (self._opt("plancache", default="true") or "").lower() != "false"

    def _rowrange(self) -> tuple[int, int] | None:
        """Beyond-reference: .option("rowrange", "a,b") scans only file
        rows [a, b) (0-based, per file) — the skipped byte ranges are
        never read. For image HDUs this is a plane/row cutout."""
        raw = self._opt("rowrange")
        if raw is None:
            return None
        try:
            a, b = (int(x) for x in str(raw).split(","))
        except ValueError:
            raise ValueError(
                f'rowrange must be "start,end" (0-based, half-open); got {raw!r}')
        if a < 0 or b < a:
            raise ValueError(f"rowrange requires 0 <= start <= end; got {raw!r}")
        return (a, b)

    def streamReader(self, schema: StructType) -> "FitsStreamReader":
        """Streaming FITS source (beyond-reference — the reference is
        batch-only, SURVEY.md §2.3): watch a directory; every new
        ``.fits`` file becomes part of the next micro-batch, scanned with
        the same row-aligned distributed partitions as the batch path."""
        return FitsStreamReader(self.reader(schema))


def _select_columns(hdu: HduInfo, columns: str | None) -> list[int]:
    """Map the ``columns`` option to schema positions, case-insensitively
    (``FitsHduBintable.scala:306-325``); preserves option order like the
    reference (selected schema = option order)."""
    if not columns:
        return list(range(len(hdu.col_names)))
    lower = [c.lower() for c in hdu.col_names]
    out = []
    for want in (c.strip() for c in columns.split(",")):
        if not want:
            continue
        try:
            out.append(lower.index(want.lower()))
        except ValueError:
            raise ValueError(
                f"Column {want!r} not found in HDU columns {list(hdu.col_names)}"
            )
    return out


class FitsScanReader(DataSourceReader):
    def __init__(self, path, hdu_index, schema, columns, recordlength, mode,
                 partition_bytes, verbose, ascii_tables=False, scaling=False,
                 rowrange=None, plan_cache=True, use_manifest=True):
        self.ascii_tables = ascii_tables
        self.scaling = scaling
        self.rowrange = rowrange
        self.plan_cache = plan_cache
        self.use_manifest = use_manifest
        self.path = path
        self.hdu_index = hdu_index
        self.spark_schema = schema
        self.columns = columns
        self.recordlength = int(recordlength) if recordlength is not None else None
        self.mode = mode
        self.partition_bytes = max(partition_bytes, 1)
        self.verbose = verbose
        self.pushed: list[Filter] = []

    # -- filter pushdown (new capability; reference had none) ------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        names = {f.name for f in self.spark_schema.fields}
        for f in filters:
            if _filter_supported(f, names):
                self.pushed.append(f)
            else:
                yield f

    # -- planning (driver) ------------------------------------------------

    def partitions(self) -> list[FitsInputPartition]:
        files = search_fits_files(self.path)
        if self.verbose:
            logger.info("fits scan: %d file(s), hdu=%s", len(files), self.hdu_index)
        return self.plan_for_files(files)

    def plan_for_files(self, files: list[str]) -> list[FitsInputPartition]:

        # filesystems resolve once per scheme on the driver; partitions
        # carry a picklable scoped handle (fitscore.vfs)
        fs_cache: dict[str, FitsFileSystem] = {}

        def _fs(fp: str) -> FitsFileSystem:
            from spark_fits_spark.fitscore.vfs import split_scheme

            scheme = split_scheme(fp)[0]
            if scheme not in fs_cache:
                fs_cache[scheme] = resolve_fs(fp)
            return fs_cache[scheme]

        # _fits_manifest.json (written by the sink): per-directory
        # metadata — one small read replaces a header walk over every
        # part file. Entries are size-validated against the live stat
        # before use; misses and mismatches fall back to the header
        # read, so a foreign/stale file self-heals. At 100 TB this is
        # the difference between planning from ONE object GET per
        # directory and a million header GETs.
        manifests: dict[str, dict] = {}

        def _manifest_for(fp: str) -> dict:
            dirname = fp.rstrip("/").rsplit("/", 1)[0] if "/" in fp else ""
            if dirname not in manifests:
                manifests[dirname] = {}
                if getattr(self, "use_manifest", True) and dirname:
                    import json as _json

                    from spark_fits_spark.sources.fits_writer import (
                        MANIFEST_NAME,
                    )

                    fs = _fs(fp)
                    mpath = fs.join(dirname, MANIFEST_NAME)
                    try:
                        if fs.exists(mpath):
                            with fs.open_input(mpath) as f:
                                doc = _json.loads(f.read().decode("utf-8"))
                            if (doc.get("version") == 1
                                    and doc.get("hdu") == self.hdu_index):
                                manifests[dirname] = doc.get("files", {})
                    except (OSError, ValueError):
                        pass  # unreadable manifest: plan from headers
            return manifests[dirname]

        # open headers in parallel: planning cost is a few KB of reads per
        # file, but serial latency would dominate with thousands of files.
        # The (path, hdu, size, mtime) LRU above turns repeat plannings
        # (one per action in the Python DS API) into stats.
        def _open(fp: str):
            fs = _fs(fp)
            key = None
            size = None
            if getattr(self, "plan_cache", True) or getattr(
                    self, "use_manifest", True):
                try:
                    st = fs.stat(fp)
                    size = st[0]
                    key = ((fp, self.hdu_index, *st)
                           if getattr(self, "plan_cache", True) else None)
                except (OSError, FileNotFoundError, NotImplementedError):
                    key = None
            if key is not None:
                hit = _hdu_cache_get(key)
                if hit is not None:
                    return hit
            entry = _manifest_for(fp).get(fp.rstrip("/").rsplit("/", 1)[-1])
            if (entry is not None and size is not None
                    and entry.get("size") == size
                    and entry.get("hdu_type",
                                  HDU_TYPE_BINTABLE) == HDU_TYPE_BINTABLE):
                hdu = _hdu_from_manifest(fp, self.hdu_index, entry)
                if key is not None:
                    _hdu_cache_put(key, hdu)
                return hdu
            try:
                with fs.open_input(fp) as f:
                    hdu = open_hdu(f, fp, self.hdu_index)
            except ValueError as e:
                return e
            if key is not None:
                _hdu_cache_put(key, hdu)
            return hdu

        # preload manifests serially (one tiny read per distinct dir)
        # so the pooled header walk below is read-only on `manifests`
        seen_dirs: set[str] = set()
        for fp in files:
            d = fp.rstrip("/").rsplit("/", 1)[0] if "/" in fp else ""
            if d not in seen_dirs:
                seen_dirs.add(d)
                _manifest_for(fp)

        if len(files) > 4:
            from concurrent.futures import ThreadPoolExecutor

            from spark_fits_spark.fitscore.vfs import split_scheme

            # local walks are disk-bound (32 threads saturate); remote
            # walks are RTT-bound (~10-50 ms per few-KB header GET), so
            # a wider pool is the difference between ~1k and ~4k
            # files/s of planning against an object store
            remote = any(split_scheme(fp)[0] not in ("", "file")
                         for fp in files)
            pool = min(128 if remote else 32, len(files))
            with ThreadPoolExecutor(max_workers=pool) as ex:
                opened = list(ex.map(_open, files))
        else:
            opened = [_open(fp) for fp in files]

        hdus: list[HduInfo] = []
        first_sig = None
        for i, fp in enumerate(files):
            hdu = opened[i]
            if isinstance(hdu, ValueError):
                if self.mode == "FAILFAST":
                    raise hdu
                if i == 0:
                    first_sig = ("empty",)
                continue  # PERMISSIVE: HDU out of range → skip file
            sig = _schema_signature(hdu, scaling=self.scaling)
            scannable_types = (
                HDU_TYPE_BINTABLE, HDU_TYPE_IMAGE, HDU_TYPE_COMPIMAGE,
                HDU_TYPE_COMPTABLE,
            ) + ((HDU_TYPE_TABLE,) if self.ascii_tables else ())
            # a 0-row BINTABLE/IMAGE header still carries the full column
            # schema — it defines/participates in conformance (a writer
            # may legitimately emit 0-row part files for empty partitions)
            # but contributes no scan partitions
            has_schema = hdu.hdu_type in scannable_types
            scannable = has_schema and hdu.n_rows > 0
            if i == 0:
                # the schema-defining file (schema() reads files[0] too, so
                # planning and inference always agree)
                first_sig = sig if has_schema else ("empty",)
            if not scannable:
                if has_schema:
                    # 0-row table/image: conformance still applies (it is
                    # part of the dataset), but there is nothing to scan
                    if sig != first_sig and self.mode == "FAILFAST":
                        raise ValueError(
                            f"FAILFAST: schema of {fp} (HDU {self.hdu_index}) "
                            f"does not conform to the first file: "
                            f"{sig} != {first_sig}")
                    continue
                # empty/unsupported HDU: PERMISSIVE skips silently
                # (FitsRecordReader.scala:176-183), FAILFAST raises
                # (packageTest.scala:193-231)
                if self.mode == "FAILFAST" and first_sig != ("empty",):
                    raise ValueError(
                        f"FAILFAST: empty/unsupported HDU {self.hdu_index} in {fp}"
                    )
                continue
            if sig != first_sig:
                # schema-conformance check (FitsSourceRelation.scala:213-254);
                # unlike the reference we apply it in PERMISSIVE too (skip,
                # with a warning) so mixed-type dirs can't mis-decode
                if self.mode == "FAILFAST":
                    raise ValueError(
                        f"FAILFAST: schema of {fp} (HDU {self.hdu_index}) "
                        f"does not conform to the first file: {sig} != {first_sig}"
                    )
                logger.warning(
                    "fits scan: skipping %s — HDU %d schema %s does not match "
                    "the first file's %s", fp, self.hdu_index, sig, first_sig)
                continue
            if self.recordlength is not None and self.recordlength < hdu.row_bytes:
                # recordlength must hold ≥1 row (FitsLib.scala:225-238)
                raise ValueError(
                    f"recordlength={self.recordlength} B is smaller than one "
                    f"row ({hdu.row_bytes} B) — increase it"
                )
            if self.recordlength is not None and self.recordlength > 2**31 - 1:
                # documented reference cap (docs/02_api.md:78-80): record
                # buffers are indexed with 32-bit ints
                raise ValueError(
                    f"recordlength={self.recordlength} B exceeds the maximum "
                    f"record size of {2**31 - 1} B (2^31-1)"
                )
            hdus.append(hdu)

        parts: list[FitsInputPartition] = []
        for hdu in hdus:
            # file-level data skipping: TDMINn/TDMAXn zone maps (written
            # by the FITS sink, standard keywords) vs pushed filters —
            # a file whose column range provably excludes every pushed
            # predicate contributes NO partitions and is never opened
            # again. Disabled under scaling (stats describe raw values;
            # a negative TSCAL flips the order).
            if self.pushed and not self.scaling and _stats_prune(
                    hdu, self.pushed):
                logger.info("fits scan: stats-pruned %s (TDMIN/TDMAX "
                            "exclude all pushed filters)", hdu.path)
                continue
            scoped_fs = _fs(hdu.path).scoped_for(hdu.path)
            col_indices = (
                _select_columns(hdu, self.columns)
                if hdu.hdu_type in (HDU_TYPE_BINTABLE, HDU_TYPE_TABLE,
                                    HDU_TYPE_COMPTABLE)
                else []
            )
            # decode consumes only the typed HduInfo fields — the raw
            # header dict is plan-time state. Telescope headers run
            # 10-20 KB (hundreds of cards); at 800k part files that is
            # GBs of driver partition-list memory and per-task
            # serialization for bytes no executor reads. Ship a
            # header-less copy.
            from dataclasses import replace as _dc_replace

            ship_hdu = _dc_replace(hdu, header={})
            # beyond-reference row-range pushdown: partitions are only
            # generated for [lo, hi), so the skipped rows' bytes are
            # never read — source-level pruning (per file; for images
            # this slices planes/rows, ImgIndex stays global)
            lo, hi = 0, hdu.n_rows
            trim = None
            if self.rowrange is not None:
                if hdu.hdu_type == HDU_TYPE_COMPTABLE:
                    # logical rows -> the overlapping tile interval;
                    # boundary tiles decode then slice (zero-copy)
                    tl = max(hdu.zt_tilelen, 1)
                    a = min(max(0, self.rowrange[0]), hdu.zt_rows)
                    b = min(max(a, self.rowrange[1]), hdu.zt_rows)
                    if b > a:
                        lo = min(a // tl, hdu.n_rows)
                        hi = min((b - 1) // tl + 1, hdu.n_rows)
                        trim = (a, b)
                    else:
                        lo = hi = 0
                elif hdu.hdu_type == HDU_TYPE_COMPIMAGE:
                    # cutouts on a compressed archive: logical image
                    # rows map to a CONTIGUOUS global tile interval
                    # (tiles order by (plane, row)), so only the
                    # overlapping tiles' bytes are read; boundary tiles
                    # decode then slice to the exact rows (`trim`)
                    from spark_fits_spark.fitscore.tilecomp import (
                        tile_layout,
                    )

                    t_rows, tpp, n_planes = tile_layout(
                        hdu.z_naxis, hdu.z_tile)
                    plane_rows = (hdu.z_naxis[1]
                                  if len(hdu.z_naxis) >= 2 else 1)
                    total = plane_rows * n_planes
                    a = min(max(0, self.rowrange[0]), total)
                    b = min(max(a, self.rowrange[1]), total)
                    if b > a and t_rows > 0 and plane_rows > 0:
                        def _tile_of(r: int) -> int:
                            return ((r // plane_rows) * tpp
                                    + (r % plane_rows) // t_rows)

                        lo = min(_tile_of(a), hdu.n_rows)
                        hi = min(_tile_of(b - 1) + 1, hdu.n_rows)
                        trim = (a, b)
                    else:
                        lo = hi = 0
                else:
                    lo = min(max(0, self.rowrange[0]), hdu.n_rows)
                    hi = min(max(lo, self.rowrange[1]), hdu.n_rows)
            # beyond-reference plane pruning: pushed ImgIndex predicates
            # bound the plane interval, and a plane is a contiguous run
            # of rows (plain image) or tiles (compimage), so the other
            # planes' partitions are never generated and their bytes
            # never read. The post-decode Arrow mask still applies, so
            # non-contiguous predicates (In with gaps) stay exact.
            if self.pushed and hdu.hdu_type in (HDU_TYPE_IMAGE,
                                                HDU_TYPE_COMPIMAGE):
                p_lo, p_hi = _imgindex_plane_bounds(self.pushed)
                if p_lo > 0 or p_hi is not None:
                    if hdu.hdu_type == HDU_TYPE_IMAGE:
                        unit = hdu.naxis[1] if len(hdu.naxis) >= 2 else 1
                    else:
                        from spark_fits_spark.fitscore.tilecomp import (
                            tile_layout,
                        )

                        unit = max(
                            tile_layout(hdu.z_naxis, hdu.z_tile)[1], 1)
                    lo = max(lo, min(p_lo * unit, hdu.n_rows))
                    if p_hi is not None:
                        hi = min(hi, max(p_hi, 0) * unit)
                    hi = max(lo, hi)
            # partition sizing: for compressed images/tables the fixed
            # table is 8-16 B/tile descriptors — the real bytes are the
            # heap, so size by total data length per tile instead
            est_row_bytes = hdu.row_bytes
            if (hdu.hdu_type in (HDU_TYPE_COMPIMAGE, HDU_TYPE_COMPTABLE)
                    and hdu.n_rows):
                est_row_bytes = max(
                    hdu.row_bytes, hdu.boundaries.data_len // hdu.n_rows)
            data_len = (hi - lo) * est_row_bytes
            n_parts = max(1, -(-data_len // self.partition_bytes))
            rows_per_part = max(1, -(-(hi - lo) // n_parts))
            for start in range(lo, hi, rows_per_part):
                parts.append(
                    FitsInputPartition(
                        hdu=ship_hdu,
                        row_start=start,
                        row_end=min(start + rows_per_part, hi),
                        col_indices=col_indices,
                        fs=scoped_fs,
                        trim=trim,
                    )
                )
        # empty relation still needs one partition object for Spark
        if not parts:
            return [FitsInputPartition(hdu=None, row_start=0, row_end=0)]  # type: ignore[arg-type]
        return parts

    # -- execution (executor python worker) --------------------------------

    def _imgindex_only(self, partition: FitsInputPartition, hdu: HduInfo,
                       arrow_schema: pa.Schema) -> Iterator[pa.RecordBatch]:
        """ImgIndex-only image scan: the plane index of every row (plain
        image) or tile (compimage) is pure arithmetic over the header's
        dimensions, so no data byte is read and the file is never even
        opened — `SELECT ImgIndex` / plane histograms over a 100 TB cube
        archive cost one header per file, total."""
        import numpy as np

        if hdu.hdu_type == HDU_TYPE_IMAGE:
            ph = max(hdu.naxis[1] if len(hdu.naxis) >= 2 else 1, 1)
            idx = np.arange(partition.row_start, partition.row_end,
                            dtype=np.int64) // ph
        else:
            from spark_fits_spark.fitscore.tilecomp import tile_layout

            tile_rows, tpp, _ = tile_layout(hdu.z_naxis, hdu.z_tile)
            tpp = max(tpp, 1)
            plane_rows = hdu.z_naxis[1] if len(hdu.z_naxis) >= 2 else 1
            tiles = np.arange(partition.row_start, partition.row_end,
                              dtype=np.int64)
            n_rows = np.maximum(np.minimum(
                tile_rows, plane_rows - (tiles % tpp) * tile_rows), 0)
            trim = getattr(partition, "trim", None)
            if trim is not None:
                # rowrange cutout: count only each tile's rows inside
                # [a, b) — still pure arithmetic, still zero I/O
                g0 = (tiles // tpp) * plane_rows + (tiles % tpp) * tile_rows
                k0 = np.maximum(0, trim[0] - g0)
                k1 = np.minimum(n_rows, trim[1] - g0)
                n_rows = np.maximum(k1 - k0, 0)
            idx = np.repeat(tiles // tpp, n_rows)
        arr = pa.array(idx)
        fields = [arrow_schema.field(i) for i in range(len(arrow_schema))]
        cols = [arr.cast(f.type) if arr.type != f.type else arr
                for f in fields]  # schema is ImgIndex-only by contract
        batch = pa.RecordBatch.from_arrays(cols, schema=arrow_schema)
        if self.pushed:
            batch = _apply_filters(batch, self.pushed)
        if batch.num_rows:
            yield batch

    def read(self, partition: FitsInputPartition) -> Iterator[pa.RecordBatch]:
        from pyspark.sql.pandas.types import to_arrow_schema

        from spark_fits_spark.fitscore.decode import decode_bintable, decode_image

        hdu = partition.hdu
        if hdu is None or partition.row_end <= partition.row_start:
            return
        arrow_schema = to_arrow_schema(self.spark_schema)
        # image `columns` option: a pruned/reordered (Image, ImgIndex)
        # projection. Selecting only ImgIndex is a ZERO-I/O path — the
        # plane index of every row/tile is pure header arithmetic, so
        # the file is never opened (on an object store: zero GETs for
        # `count()`-style metadata queries over a cube).
        img_names = None
        if hdu.hdu_type in (HDU_TYPE_IMAGE, HDU_TYPE_COMPIMAGE):
            img_names = [f.name for f in self.spark_schema.fields]
            if "Image" not in img_names:
                yield from self._imgindex_only(partition, hdu, arrow_schema)
                return
        batch_bytes = self.recordlength or DEFAULT_BATCH_BYTES
        rows_per_batch = max(1, batch_bytes // max(hdu.row_bytes, 1))
        if hdu.hdu_type == HDU_TYPE_COMPIMAGE:
            # batch by DECOMPRESSED tile size, not the 8 B descriptors
            t_rows = hdu.z_tile[1] if len(hdu.z_tile) >= 2 else 1
            width = hdu.z_naxis[0] if hdu.z_naxis else 1
            item = max(abs(hdu.z_bitpix) // 8, 1)
            rows_per_batch = max(1, batch_bytes // max(t_rows * width * item, 1))
        elif hdu.hdu_type == HDU_TYPE_COMPTABLE:
            # batch by DECOMPRESSED logical tile bytes
            tile_bytes = hdu.zt_tilelen * max(hdu.zt_row_bytes, 1)
            rows_per_batch = max(1, batch_bytes // max(tile_bytes, 1))

        img_project = (img_names is not None
                       and img_names != ["Image", "ImgIndex"])
        if img_project:
            # decode with the canonical 2-field schema, project after
            decode_schema = to_arrow_schema(
                _image_schema(hdu, scaling=self.scaling))
        else:
            decode_schema = arrow_schema
        fs = getattr(partition, "fs", None) or LOCAL
        with fs.open_input(hdu.path) as f:

            def heap_read(off: int, length: int) -> bytes:
                # variable-length (P/Q) heap access: one window per
                # column per batch (the decode computes [min, max) over
                # the batch's descriptors — a single seek+read)
                f.seek(hdu.boundaries.data_start + hdu.theap + off)
                return f.read(length)

            row = partition.row_start
            while row < partition.row_end:
                n = min(rows_per_batch, partition.row_end - row)
                f.seek(hdu.boundaries.data_start + row * hdu.row_bytes)
                buf = f.read(n * hdu.row_bytes)
                if hdu.hdu_type == HDU_TYPE_BINTABLE:
                    batch = decode_bintable(
                        buf, hdu, partition.col_indices, arrow_schema,
                        scaling=self.scaling, heap_read=heap_read)
                elif hdu.hdu_type == HDU_TYPE_TABLE:
                    from spark_fits_spark.fitscore.decode import decode_ascii_table

                    batch = decode_ascii_table(buf, hdu, partition.col_indices, arrow_schema)
                elif hdu.hdu_type == HDU_TYPE_COMPTABLE:
                    from spark_fits_spark.fitscore.tabcomp import (
                        decode_compressed_table,
                    )

                    batch = decode_compressed_table(
                        buf, hdu, row, arrow_schema,
                        partition.col_indices, heap_read,
                        scaling=self.scaling)
                    tr = getattr(partition, "trim", None)
                    if tr is not None:
                        # rowrange: slice boundary tiles to the exact
                        # logical rows (zero-copy Arrow slice)
                        g0 = row * max(hdu.zt_tilelen, 1)
                        o0 = max(0, tr[0] - g0)
                        o1 = min(batch.num_rows, tr[1] - g0)
                        batch = batch.slice(o0, max(0, o1 - o0))
                elif hdu.hdu_type == HDU_TYPE_COMPIMAGE:
                    from spark_fits_spark.fitscore.tilecomp import (
                        decode_compressed_image,
                    )

                    batch = decode_compressed_image(
                        buf, hdu, row, decode_schema, heap_read,
                        scaling=self.scaling,
                        trim=getattr(partition, "trim", None))
                else:
                    batch = decode_image(buf, hdu, row, decode_schema,
                                         scaling=self.scaling)
                if img_project:
                    batch = pa.RecordBatch.from_arrays(
                        [batch.column(batch.schema.get_field_index(n))
                         for n in img_names], schema=arrow_schema)
                if self.pushed:
                    batch = _apply_filters(batch, self.pushed)
                if batch.num_rows:
                    yield batch
                row += n


def _hdu_from_manifest(path: str, hdu_index: int, e: dict) -> HduInfo:
    """Reconstruct the planner's HduInfo from a manifest entry (sink
    layout: one BINTABLE data HDU). The header dict carries only the
    zone-map stats cards — exactly what ``_stats_prune`` consumes —
    mirroring the header-less copy shipped to executors."""
    from spark_fits_spark.fitscore.file import BlockBoundaries

    n = len(e["col_names"])
    return HduInfo(
        path=path,
        hdu_index=hdu_index if isinstance(hdu_index, int) else 1,
        hdu_type=HDU_TYPE_BINTABLE,
        boundaries=BlockBoundaries(*e["boundaries"]),
        header=dict(e.get("stats") or {}),
        row_bytes=int(e["row_bytes"]),
        n_rows=int(e["n_rows"]),
        col_names=tuple(e["col_names"]),
        col_tforms=tuple(e["col_tforms"]),
        col_tscal=tuple(e.get("col_tscal") or (1.0,) * n),
        col_tzero=tuple(e.get("col_tzero") or (0.0,) * n),
        col_tnull=tuple(e.get("col_tnull") or (None,) * n),
        theap=int(e["theap"]),
    )


def _imgindex_plane_bounds(filters: list[Filter]) -> tuple[int, int | None]:
    """Conservative ``[plane_lo, plane_hi)`` interval implied by pushed
    ``ImgIndex`` predicates (``None`` hi = unbounded) — the plan-time
    plane pruner for image scans: asking for plane 37 of a 10,000-plane
    survey cube generates partitions for plane 37's rows/tiles only, so
    the other planes' bytes are never read. Conservative by
    construction: only integral-valued simple range predicates narrow
    the interval (In narrows to its [min, max] hull); everything else
    contributes nothing and is left to the post-decode Arrow mask,
    which always runs regardless. ``IsNull`` yields an empty interval —
    ``ImgIndex`` is never NULL by construction, so zero partitions is
    the exact answer."""
    lo, hi = 0, None

    def integral(x) -> bool:
        return (isinstance(x, (int, float)) and not isinstance(x, bool)
                and float(x) == int(x))

    def cap(new_hi: int) -> None:
        nonlocal hi
        hi = new_hi if hi is None else min(hi, new_hi)

    for f in filters:
        attr = getattr(f, "attribute", None)
        if (isinstance(f, Not) or attr is None
                or tuple(attr) != ("ImgIndex",)):
            continue
        v = getattr(f, "value", None)
        if isinstance(f, (EqualTo, EqualNullSafe)) and integral(v):
            lo = max(lo, int(v))
            cap(int(v) + 1)
        elif isinstance(f, GreaterThan) and integral(v):
            lo = max(lo, int(v) + 1)
        elif isinstance(f, GreaterThanOrEqual) and integral(v):
            lo = max(lo, int(v))
        elif isinstance(f, LessThan) and integral(v):
            cap(int(v))
        elif isinstance(f, LessThanOrEqual) and integral(v):
            cap(int(v) + 1)
        elif isinstance(f, In) and v and all(integral(x) for x in v):
            lo = max(lo, min(int(x) for x in v))
            cap(max(int(x) for x in v) + 1)
        elif isinstance(f, IsNull):
            cap(0)
    return lo, hi


def _tform_maybe_float(tform: str) -> bool:
    """True unless ``tform`` PROVABLY denotes a non-float column.

    Parses the type letter the FITS way — optional repeat count, then
    the code, with P/Q variable-length descriptors carrying the
    element code next ('PE(5)' is float) — instead of peeking at the
    last character ('E15.5', ASCII float, ends in '5'). Proven
    non-float codes: L/X/B/I/J/K (logical, bit, bytes/ints) and A
    (char); everything else, including unparseable forms, counts as
    possibly-float so hi-side zone-map prunes stay gated on TNANFRn.
    """
    s = tform.strip().upper()
    i = 0
    while i < len(s) and s[i].isdigit():
        i += 1
    if i >= len(s) or not s[i].isalpha():
        return True
    t = s[i]
    if t in ("P", "Q"):
        nxt = s[i + 1:i + 2]
        if not nxt.isalpha():
            return True
        t = nxt
    return t not in ("L", "X", "B", "I", "J", "K", "A")


def _stats_prune(hdu: HduInfo, filters: list[Filter]) -> bool:
    """True iff the file's TDMINn/TDMAXn zone map PROVES no row can
    satisfy the conjunction of pushed filters. Conservative: any
    missing/unparseable stat, non-numeric comparison value, or filter
    shape outside the simple range family contributes nothing (never
    prunes). Values compare as doubles, which is SAFE for any
    magnitude because float64 rounding is monotone: for the
    inclusive-bound prunes (=, >=, <=, In) a float-side exclusion
    implies the exact-side exclusion, and the strict compares (>, <)
    use strict float inequalities so an int64 bound past 2^53 that
    ties its comparison value after rounding never prunes (hi > v
    exactly ⟹ float(hi) ≥ float(v) ⟹ no prune) — marginally
    conservative for genuinely-equal float bounds, never wrong.

    Columns with non-trivial TSCALn/TZEROn never prune: the standard
    defines TDMINn/TDMAXn as PHYSICAL (scaled) values, while a scan
    with scaling off compares raw stored values (scaling ON disables
    pruning wholesale at the call site).

    Floating-point columns and NaN (r6): NaN has no order, so writers
    (ours included — Arrow min_max skips NaN) exclude it from
    TDMIN/TDMAX, yet under Spark float semantics NaN is the GREATEST
    value and matches ``x > v`` / ``x >= v`` for any finite v. A
    hi-side prune on a float column is therefore sound only when the
    file is PROVEN NaN-free — our sink records that as a ``TNANFRn``
    card; without it (any foreign file), float hi-side prunes are
    skipped. Lo-side prunes stay: NaN never matches ``x < v`` /
    ``x <= v``, and equality/In against finite values never match
    NaN. (±Inf needs no guard: TDMIN/TDMAX are defined over ALL
    physical values and Inf is orderable, so a writer excluding it
    violates the card's meaning outright — our own writer skips stats
    entirely when extremes are non-finite.)
    """
    import math

    stats: dict[str, tuple[float, float, bool]] = {}
    for i, name in enumerate(hdu.col_names, start=1):
        lo_s = hdu.header.get(f"TDMIN{i}")
        hi_s = hdu.header.get(f"TDMAX{i}")
        if lo_s is None or hi_s is None:
            continue
        tscal = hdu.col_tscal[i - 1] if i <= len(hdu.col_tscal) else None
        tzero = hdu.col_tzero[i - 1] if i <= len(hdu.col_tzero) else None
        if tscal != 1.0 or tzero != 0.0:
            continue
        try:
            lo, hi = float(lo_s), float(hi_s)
        except ValueError:
            continue
        tform = (hdu.col_tforms[i - 1]
                 if i <= len(hdu.col_tforms) else "") or ""
        # Hi-side prunes are only sound when the column provably holds
        # no NaN (Arrow min_max skips NaN, so a foreign TDMAX can
        # understate the true max). Gate on the TYPE LETTER, not the
        # TFORM's last character — 'E15.5' (ASCII float) ends in '5'
        # and 'PE(5)' (VLA float) ends in ')'. Conservative: anything
        # not provably integer/logical counts as float.
        hi_prune_ok = (not _tform_maybe_float(tform)
                       or hdu.header.get(f"TNANFR{i}") in (True, "T"))
        if math.isfinite(lo) and math.isfinite(hi):
            stats[name] = (lo, hi, hi_prune_ok)
    if not stats:
        return False

    def num(x) -> bool:
        return (isinstance(x, (int, float)) and not isinstance(x, bool)
                and math.isfinite(float(x)))

    for f in filters:
        attr = getattr(f, "attribute", None)
        if isinstance(f, Not) or attr is None or len(attr) != 1:
            continue
        rng = stats.get(attr[0])
        if rng is None:
            continue
        lo, hi, hi_prune_ok = rng
        v = getattr(f, "value", None)
        if isinstance(f, (EqualTo, EqualNullSafe)) and num(v):
            # sound for float cols even with NaN rows: NaN never
            # equals a finite value
            if float(v) < lo or float(v) > hi:
                return True
        elif isinstance(f, GreaterThan) and num(v):
            # strict: hi == v after float rounding may hide exact
            # hi > v for int64 stats past 2^53 (see docstring).
            # hi_prune_ok: float cols need proven NaN-freeness —
            # NaN orders greatest and would match x > v
            if hi_prune_ok and hi < float(v):
                return True
        elif isinstance(f, GreaterThanOrEqual) and num(v):
            if hi_prune_ok and hi < float(v):
                return True
        elif isinstance(f, LessThan) and num(v):
            if lo > float(v):
                return True
        elif isinstance(f, LessThanOrEqual) and num(v):
            if lo > float(v):
                return True
        elif isinstance(f, In) and v and all(num(x) for x in v):
            if all(float(x) < lo or float(x) > hi for x in v):
                return True
    return False


# -- pushed-filter evaluation (numpy/Arrow-side) ---------------------------

_SIMPLE_FILTERS = (
    EqualTo, EqualNullSafe, GreaterThan, GreaterThanOrEqual, LessThan,
    LessThanOrEqual, In, IsNull, IsNotNull, StringContains, StringStartsWith,
    StringEndsWith,
)


def _filter_supported(f: Filter, names: set[str]) -> bool:
    if isinstance(f, Not):
        return _filter_supported(f.child, names)
    if not isinstance(f, _SIMPLE_FILTERS):
        return False
    path = f.attribute
    if len(path) != 1 or path[0] not in names:
        return False
    return True


def _apply_filters(batch: pa.RecordBatch, filters: list[Filter]) -> pa.RecordBatch:
    import pyarrow.compute as pc

    mask = None
    for f in filters:
        m = _filter_mask(batch, f)
        mask = m if mask is None else pc.and_(mask, m)
    if mask is None:
        return batch
    return batch.filter(mask)


def _filter_mask(batch: pa.RecordBatch, f: Filter):
    import math

    import pyarrow.compute as pc

    if isinstance(f, Not):
        # masks below follow SQL three-valued logic (NULL stays NULL),
        # so inversion composes correctly: batch.filter drops both
        # false and null, exactly like a SQL WHERE
        return pc.invert(_filter_mask(batch, f.child))
    col = batch.column(batch.schema.get_field_index(f.attribute[0]))

    # Spark/SQL float semantics diverge from raw IEEE kernels in two
    # ways that matter for NaN-laden FITS data (pushed filters are NOT
    # re-evaluated post-scan, so the mask must match Spark exactly —
    # both divergences found by the hypothesis mask-vs-DuckDB property
    # test): (1) NaN is SELF-EQUAL and ORDERS GREATEST (Spark
    # `float('NaN') > 5.0` is TRUE; IEEE compares are all false), and
    # (2) Arrow's is_in matches floats BITWISE, missing -0.0 == 0.0.
    fp = pa.types.is_floating(col.type)

    def nanv(v) -> bool:
        return isinstance(v, float) and math.isnan(v)

    def eq_mask(v):
        """x = v under Spark semantics (NaN = NaN true, ±0 equal)."""
        if fp and nanv(v):
            return pc.is_nan(col)  # null propagates
        return pc.equal(col, v)

    if isinstance(f, EqualNullSafe):
        # <=> is two-valued: NULL <=> NULL is TRUE, NULL <=> v is FALSE
        if f.value is None:
            return pc.is_null(col)
        return pc.fill_null(eq_mask(f.value), False)
    if isinstance(f, EqualTo):
        if f.value is None:  # x = NULL is NULL for every row
            return pa.nulls(batch.num_rows, pa.bool_())
        return eq_mask(f.value)
    if isinstance(f, GreaterThan):
        if fp:
            if nanv(f.value):  # nothing exceeds the greatest value
                return pc.and_(pc.is_nan(col), pc.invert(pc.is_nan(col)))
            return pc.or_(pc.greater(col, f.value), pc.is_nan(col))
        return pc.greater(col, f.value)
    if isinstance(f, GreaterThanOrEqual):
        if fp:
            if nanv(f.value):
                return pc.is_nan(col)  # only NaN >= NaN
            return pc.or_(pc.greater_equal(col, f.value), pc.is_nan(col))
        return pc.greater_equal(col, f.value)
    if isinstance(f, LessThan):
        if fp and nanv(f.value):  # everything but NaN is < the max
            return pc.invert(pc.is_nan(col))
        return pc.less(col, f.value)  # col NaN: false — NaN is greatest
    if isinstance(f, LessThanOrEqual):
        if fp and nanv(f.value):  # everything (incl. NaN) <= the max
            return pc.or_(pc.is_nan(col), pc.invert(pc.is_nan(col)))
        return pc.less_equal(col, f.value)
    if isinstance(f, In):
        # SQL IN truth table (pc.is_in alone would match NULL against a
        # NULL list element and return two-valued results, breaking Not):
        #   x IN (v...)        → TRUE on match, FALSE otherwise, NULL if x NULL
        #   x IN (v..., NULL)  → TRUE on match, NULL otherwise
        vals = [v for v in f.value if v is not None]
        had_null = len(vals) != len(list(f.value))
        if pa.types.is_integer(col.type):
            # numeric IN semantics: a non-integral value can never
            # equal an integer, but pa.array would silently TRUNCATE
            # it into the value set (x IN (-2.5) matching x == -2 —
            # found by the hypothesis mask-vs-DuckDB property test);
            # the comparison kernels promote instead of truncating,
            # so only this value-set construction needs the guard.
            # Dropped values are non-NULL, so had_null is computed
            # above — they contribute FALSE, not NULL. is_integer()
            # (not v == int(v)) so NaN/inf in the value list drop as
            # non-matches instead of raising Value/OverflowError —
            # unreachable from Spark (casts block pushdown) but live
            # via the raw Filter API.
            vals = [int(v) for v in vals
                    if not isinstance(v, float) or v.is_integer()]
        if fp:
            # fold of Spark-semantics equality instead of pc.is_in:
            # Arrow's is_in hashes float BITS, so it misses
            # -0.0 == 0.0 and NaN-vs-NaN set membership. NULL rows are
            # normalized by the is_valid/if_else returns below either
            # way.
            m = pa.array([False] * batch.num_rows, pa.bool_())
            for v in vals:
                m = pc.or_(m, pc.fill_null(eq_mask(v), False))
        else:
            m = pc.is_in(col, value_set=pa.array(vals, type=col.type))
        if had_null:  # NULL in the value list
            return pc.if_else(m, m, pa.nulls(batch.num_rows, pa.bool_()))
        return pc.if_else(pc.is_valid(col), m,
                          pa.nulls(batch.num_rows, pa.bool_()))
    if isinstance(f, IsNull):
        return pc.is_null(col)
    if isinstance(f, IsNotNull):
        return pc.is_valid(col)
    if isinstance(f, StringContains):
        return pc.match_substring(col, f.value)
    if isinstance(f, StringStartsWith):
        return pc.starts_with(col, f.value)
    if isinstance(f, StringEndsWith):
        return pc.ends_with(col, f.value)
    raise AssertionError(f"unreachable: {f}")


from pyspark.sql.datasource import DataSourceStreamReader


#: files whose mtime is within this many seconds of the newest mtime stay
#: in the offset's explicit tail set instead of being covered by the
#: watermark — guards filesystem mtime granularity and writers whose
#: close lags their mtime slightly
STREAM_MTIME_SLACK_S = 5.0


class FitsStreamReader(DataSourceStreamReader):
    """Distributed streaming FITS reader (``DataSourceStreamReader``
    protocol): each micro-batch plans row-aligned partitions over the
    newly-arrived files only.

    **Bounded offsets**: the checkpoint offset is
    ``{"watermark": W, "tail": [...]}`` with the invariant *a file is
    ingested iff its mtime ≤ W or it is in the tail*. The tail holds
    only files newer than ``W = max_mtime − slack``, so the payload
    size tracks the ingest *rate* (files per slack window), not the
    directory's lifetime file count — a full file list would grow the
    checkpoint forever at telescope-pipeline scale. Assumes an
    append-only landing directory where files become visible within
    ``slack`` of their mtime (the same contract as Spark's
    FileStreamSource maxFileAge); a file materializing with an mtime
    older than the watermark is missed."""

    def __init__(self, scan: FitsScanReader):
        self._scan = scan

    def _listing(self) -> list[tuple[str, float]]:
        try:
            files = search_fits_files(self._scan.path)
        except FileNotFoundError:
            return []
        out = []
        fs_cache: dict[str, FitsFileSystem] = {}
        from spark_fits_spark.fitscore.vfs import split_scheme

        for p in files:
            scheme = split_scheme(p)[0]
            if scheme not in fs_cache:
                fs_cache[scheme] = resolve_fs(p)
            try:
                out.append((p, fs_cache[scheme].mtime(p)))
            except (OSError, FileNotFoundError):
                continue  # raced with a delete
            except NotImplementedError:
                # fsspec backends without modified() (several protocol
                # packages): a no-mtime listing cannot drive the
                # watermark contract at all — fail loud once instead of
                # silently dropping every file from every micro-batch
                raise NotImplementedError(
                    f"streaming FITS source requires file mtimes, but the "
                    f"filesystem for {p!r} does not expose them")
        return out

    @staticmethod
    def _ingested(path: str, mtime: float, offset: dict) -> bool:
        if "files" in offset:  # legacy full-list offsets (pre-watermark)
            return path in set(offset["files"])
        return mtime <= offset.get("watermark", -1.0) or (
            path in set(offset.get("tail", ())))

    def initialOffset(self) -> dict:
        return {"watermark": -1.0, "tail": []}

    def latestOffset(self) -> dict:
        listing = self._listing()
        if not listing:
            return {"watermark": -1.0, "tail": []}
        wm = max(m for _, m in listing) - STREAM_MTIME_SLACK_S
        return {"watermark": wm,
                "tail": sorted(p for p, m in listing if m > wm)}

    def partitions(self, start: dict, end: dict):
        new = sorted(
            p for p, m in self._listing()
            if self._ingested(p, m, end) and not self._ingested(p, m, start)
        )
        if not new:
            return [FitsInputPartition(hdu=None, row_start=0, row_end=0)]  # type: ignore[arg-type]
        return self._scan.plan_for_files(new)

    def read(self, partition: FitsInputPartition):
        return self._scan.read(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass
