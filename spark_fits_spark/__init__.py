"""spark-fits-spark — a PySpark-native engine with the capabilities of
astrolabsoftware/spark-fits (reference studied read-only at
/root/reference; see SURVEY.md).

Components:
- ``fitscore``   — pure-Python FITS parsing (headers, boundaries, types,
                   vectorized numpy→Arrow decode).
- ``sources``    — the ``fits`` Python DataSource (Spark 4 Python Data
                   Source API): distributed bintable/image scans with
                   row-aligned partitions, column pruning, filter
                   pushdown.
- ``operators``  — DataFrame-level library operators beyond the
                   reference: dedup (exact / MinHash-LSH / SimHash /
                   n-gram Jaccard / embedding), similarity search.
- ``functions``  — text analysis (language id, quality, tokens,
                   fingerprints) as pure `pyspark.sql.functions`
                   compositions (JVM-side, codegen-friendly).
- ``streaming``  — Structured Streaming helpers.

Usage::

    from spark_fits_spark import register_fits
    register_fits(spark)
    df = spark.read.format("fits").option("hdu", 1).load("file.fits")
"""

from __future__ import annotations

import functools
import math
import os
import zipimport

__version__ = "0.1.0"


def _install_zip_stat_check() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` on every
    planner request and every task (``worker_util.setup_spark_files``).
    Up to CPython 3.12 every zipimporter then re-parses its archive's
    whole central directory in pure Python: a worker holds a dozen
    importers over pyspark.zip, the Spark core jar, py4j and the
    package zip, about 27k entries and 0.13-0.30 s per request.

    After the wrap, an archive is re-read only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken just
    before its last successful read; importers of one archive share
    that read. A failed ``stat`` or read keeps the stock behaviour.
    Runs when the package is imported, so unpickling the data source
    installs it in every Spark Python worker; a second call wraps
    nothing."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_checked", False):
        return
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(stock)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            last_read.pop(archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        hit = last_read.get(archive)
        if hit is not None and hit[0] == key:
            self._files = zipimport._zip_directory_cache[archive] = hit[1]
            return
        stock(self)
        # record only a directory this call read itself: on success
        # stock points self._files and the cache entry at one new dict,
        # on failure it drops the cache entry
        # (CPython 3.13+ only drops the cache and reads lazily, so
        # nothing is recorded there and the stock path always runs)
        files = vars(self).get("_files")
        if files is not None and \
                zipimport._zip_directory_cache.get(archive) is files:
            last_read[archive] = (key, files)
        else:
            last_read.pop(archive, None)

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_stat_check()


def register_fits(spark) -> None:
    """Register the ``fits`` datasource on a SparkSession (the analog of
    the reference's META-INF service-loader registration,
    ``DefaultSource.scala:31``).

    Self-contained on ANY session, not just ``plans.build_session``:

    - ``spark.sql.python.filterPushdown.enabled`` is flipped on (it is a
      runtime SQL conf): Spark 4 *raises* DATA_SOURCE_PUSHDOWN_DISABLED
      at scan planning when a reader implements ``pushFilters()`` under
      the default-false conf — so a bare session could not even scan.
    - the package zip is shipped via ``addPyFile`` so executor workers
      can unpickle the datasource when the session's JVM was launched
      without this repo on PYTHONPATH (no-op / best-effort otherwise).
    """
    import importlib.util

    from spark_fits_spark.sources.fits_datasource import FitsDataSource

    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spec = importlib.util.find_spec("spark_fits_spark")
    if spec and spec.submodule_search_locations:
        pkg_dir = list(spec.submodule_search_locations)[0]
        try:
            spark.sparkContext.addPyFile(_package_zip(pkg_dir))
        except Exception:
            pass  # best-effort: plain local sessions don't need it
    spark.dataSource.register(FitsDataSource)


def _package_zip(pkg_dir: str) -> str:
    """Zip ``spark_fits_spark`` into a content-stable cache file (built
    once per source state) suitable for ``SparkContext.addPyFile``.

    The cache lives in a per-user 0700 directory (never a shared
    world-writable path): the zip is shipped verbatim to executor
    Python workers, so a pre-planted file at a predictable public path
    would be arbitrary code execution in the job. A cache dir that is
    not ours or has group/other bits set is abandoned for a fresh
    ``mkdtemp`` — nothing pre-existing is ever trusted."""
    import hashlib
    import tempfile
    import zipfile

    parent = os.path.dirname(pkg_dir)
    paths = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                paths.append(os.path.join(root, f))
    h = hashlib.md5()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())

    uid = os.getuid() if hasattr(os, "getuid") else 0
    base = os.path.join(tempfile.gettempdir(), f"spark_fits_spark-{uid}")
    try:
        os.makedirs(base, mode=0o700, exist_ok=True)
        st = os.stat(base)
        owned = (not hasattr(os, "getuid")
                 or (st.st_uid == uid and not (st.st_mode & 0o077)))
    except OSError:
        owned = False
    if not owned:
        base = tempfile.mkdtemp(prefix="spark_fits_spark_")

    out = os.path.join(base, f"pkg_{h.hexdigest()[:12]}.zip")
    if not os.path.exists(out):
        # per-process temp name + atomic replace: concurrent sessions
        # (bench + tests) building the same content must not interleave
        # writes into one shared .part file
        fd, tmp = tempfile.mkstemp(
            dir=base, prefix="pkg_", suffix=".zip.part")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(paths):
                z.write(p, os.path.relpath(p, parent))
        os.replace(tmp, out)
    return out


def fits_info(spark, path: str):
    """Dataset discovery: one row per (file, HDU) with index, type,
    EXTNAME, row/column counts and byte boundaries — the DataFrame
    analog of the reference's ``getNHDU``/``getHduType`` driver API.

    File listing is driver-side; header walking is distributed (one
    task per file), so inventories of many-file datasets scale out."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from spark_fits_spark.sources.fits_datasource import search_fits_files

    files = search_fits_files(path)
    schema = StructType([
        StructField("file", StringType()),
        StructField("hdu", IntegerType()),
        StructField("hdu_type", StringType()),
        StructField("extname", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_cols", IntegerType()),
        StructField("data_start", LongType()),
        StructField("data_len", LongType()),
        # tiled-compression codec (ZCMPTYPE) when the HDU is a
        # compressed image (ZIMAGE=T); NULL otherwise
        StructField("compression", StringType()),
    ])

    def _walk(pair):
        from spark_fits_spark.fitscore.file import walk_hdus
        from spark_fits_spark.fitscore.header import header_value, parse_cards

        fp, fs = pair
        out = []
        with fs.open_input(fp) as f:
            for i, (b, cards) in enumerate(walk_hdus(f)):
                h = parse_cards(cards)
                zimage = (header_value(h, "ZIMAGE", "") or "").strip() == "T"
                ztable = (header_value(h, "ZTABLE", "") or "").strip() == "T"
                if zimage:
                    comp = (header_value(h, "ZCMPTYPE", "") or "").strip() \
                        or None
                elif ztable:
                    comp = "TILED_TABLE"   # per-column ZCTYPn codecs
                else:
                    comp = None
                out.append((
                    fp, i,
                    header_value(h, "XTENSION", "primary") or "primary",
                    header_value(h, "EXTNAME", None),
                    int(h.get("NAXIS2", "0") or "0"),
                    int(h.get("TFIELDS", "0") or "0"),
                    b.data_start, b.data_len,
                    comp,
                ))
        return out

    rdd = spark.sparkContext.parallelize(
        _with_scoped_fs(files), max(1, len(files)))
    return spark.createDataFrame(rdd.flatMap(_walk), schema)


def _with_scoped_fs(files):
    """(path, picklable FS handle) pairs for executor-side opens —
    resolved once per scheme on the driver, like the scan's partitions
    (fitscore.vfs)."""
    from spark_fits_spark.fitscore.vfs import resolve_fs, split_scheme

    cache = {}
    out = []
    for fp in files:
        scheme = split_scheme(fp)[0]
        if scheme not in cache:
            cache[scheme] = resolve_fs(fp)
        out.append((fp, cache[scheme].scoped_for(fp)))
    return out


def fits_headers(spark, path: str, hdu: int | None = None):
    """Header cards as a DataFrame: one row per 80-byte card —
    ``(file, hdu, pos, keyword, value, comment)`` — the survey-ops
    query surface over an archive's metadata ("which of my 100k
    files have FILTER='r' and EXPTIME > 30?") that the reference
    leaves to driver-side ``parseHeader`` loops
    (``FitsLib.scala``'s header API, one file at a time).

    String values are unquoted (FITS '' escapes honored), other
    values kept verbatim; COMMENT/HISTORY/blank cards carry their
    text in ``comment`` with NULL ``value``. Like :func:`fits_info`,
    listing is driver-side and header walking is one distributed
    task per file. ``hdu`` restricts to one HDU index (None = all
    HDUs)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from spark_fits_spark.sources.fits_datasource import search_fits_files

    files = search_fits_files(path)
    schema = StructType([
        StructField("file", StringType()),
        StructField("hdu", IntegerType()),
        StructField("pos", IntegerType()),
        StructField("keyword", StringType()),
        StructField("value", StringType()),
        StructField("comment", StringType()),
    ])
    want = hdu

    def _walk(pair):
        from spark_fits_spark.fitscore.file import walk_hdus
        from spark_fits_spark.fitscore.header import (short_string_value,
                                                      split_card)

        fp, fs = pair
        out = []
        with fs.open_input(fp) as f:
            for i, (b, cards) in enumerate(walk_hdus(f)):
                if want is not None and i != want:
                    continue
                for pos, card in enumerate(cards):
                    kw, raw, comment = split_card(card)
                    if kw == "END":
                        continue
                    val = None
                    if raw is not None:
                        val = (short_string_value(raw)
                               if raw.startswith("'") else raw)
                    out.append((fp, i, pos, kw, val, comment))
        return out

    rdd = spark.sparkContext.parallelize(
        _with_scoped_fs(files), max(1, len(files)))
    return spark.createDataFrame(rdd.flatMap(_walk), schema)


def read_sky_cutout(spark, path: str, *, ra: float, dec: float,
                    half: int, hdu: int = 1, wcs=None):
    """Sky-position cutout — the cutout-service primitive: resolve
    (ra, dec) through the image's TAN WCS driver-side, push the
    row window down as a ``rowrange`` scan bound (only the covered
    2880-byte blocks are ever read — q108's plane/row pruning path),
    and slice the x window JVM-side. Returns ``(y, x0, Image)`` rows
    — absolute pixel coordinates, ``Image`` trimmed to the cutout
    width; a cutout clipped by the image edge returns the clipped
    window, one fully outside returns no rows.

    ``wcs`` (a ``TanWcs``) overrides the header's; otherwise the
    header cards of ``hdu`` are parsed driver-side. 2-D image HDUs
    (one plane) — the row window is the logical row range the scan
    prunes on."""
    from pyspark.sql import functions as F

    from spark_fits_spark.fitscore.file import open_hdu
    from spark_fits_spark.fitscore.vfs import resolve_fs
    from spark_fits_spark.functions.wcs import TanWcs, sky_to_pixel_scalar
    from spark_fits_spark.sources.fits_datasource import search_fits_files

    files = search_fits_files(path)
    if len(files) != 1:
        raise ValueError(
            f"read_sky_cutout expects exactly one file, got "
            f"{len(files)} under {path!r}")
    fp = files[0]
    fs = resolve_fs(fp).scoped_for(fp)
    with fs.open_input(fp) as f:
        info = open_hdu(f, fp, hdu)
    if wcs is None:
        wcs = TanWcs.from_header(info.header)
    width = int(info.header.get("NAXIS1", "0") or "0")
    height = int(info.header.get("NAXIS2", "0") or "0")
    xc, yc = sky_to_pixel_scalar(wcs, ra, dec)
    # nearest pixel (not floor): the inverse transform of an exact
    # pixel center can come back 1 ulp under the integer
    cx = int(math.floor(xc + 0.5))
    cy = int(math.floor(yc + 0.5))
    y0 = max(0, cy - half)
    y1 = min(height, cy + half + 1)
    x0 = max(0, cx - half)
    x1 = min(width, cx + half + 1)
    if y0 >= y1 or x0 >= x1:
        empty = spark.range(0).select(
            F.col("id").alias("y"), F.col("id").alias("x0"),
            F.array(F.lit(0.0)).alias("Image"))
        return empty.where(F.lit(False))
    from spark_fits_spark.operators.images import with_plane_rows

    df = (spark.read.format("fits").option("hdu", hdu)
          .option("rowrange", f"{y0},{y1}").load(fp))
    rows = with_plane_rows(df)
    return rows.select(
        (F.col("y") + F.lit(y0)).alias("y"),
        F.lit(x0).alias("x0"),
        F.slice("Image", x0 + 1, x1 - x0).alias("Image"))


def fits_verify_checksums(spark, path: str):
    """Distributed integrity audit: one row per (file, HDU) with the
    stored DATASUM/CHECKSUM verdicts (FITS 4.0 §4.4.2.7). ``NULL``
    where the HDU carries no checksum cards (the reference's own
    fixtures don't; files written with ``.option("checksum", True)``
    do).

    File listing is driver-side; each file's HDUs are read and summed
    in one task (the ones'-complement sum is a single vectorized pass
    over the bytes), so a million-file audit scales out like any scan.
    """
    from pyspark.sql.types import (
        BooleanType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from spark_fits_spark.sources.fits_datasource import search_fits_files

    files = search_fits_files(path)
    schema = StructType([
        StructField("file", StringType()),
        StructField("hdu", IntegerType()),
        StructField("datasum", LongType()),
        StructField("datasum_ok", BooleanType()),
        StructField("checksum_ok", BooleanType()),
    ])

    def _verify(pair):
        from spark_fits_spark.fitscore.checksum import sum32, verify_hdu
        from spark_fits_spark.fitscore.file import walk_hdus

        fp, fs = pair
        out = []
        with fs.open_input(fp) as f:
            bounds = [b for b, _ in walk_hdus(f)]
            for i, b in enumerate(bounds):
                f.seek(b.header_start)
                hdu = f.read(b.block_stop - b.header_start)
                hlen = b.data_start - b.header_start
                ds_ok, ck_ok = verify_hdu(hdu)
                out.append((fp, i, sum32(hdu[hlen:]), ds_ok, ck_ok))
        return out

    rdd = spark.sparkContext.parallelize(
        _with_scoped_fs(files), max(1, len(files)))
    return spark.createDataFrame(rdd.flatMap(_verify), schema)


def fits_build_manifest(directory: str, hdu: int = 1) -> int:
    """Build ``_fits_manifest.json`` for an EXISTING directory of FITS
    files (archives not written by this engine's sink): a thread-pooled
    header walk over the ``.fits`` files records each BINTABLE's
    boundaries + schema + zone-map stats, after which every scan of the
    directory plans from one metadata read instead of re-walking
    headers. Non-BINTABLE HDUs are skipped (the planner only trusts
    BINTABLE entries and falls back to a header read otherwise).
    Returns the number of entries written.

    Driver-side utility — the walk is a few KB per file, thread-pooled
    like ``plan_for_files``; re-run it (or delete the manifest) after
    modifying files outside the sink.
    """
    from concurrent.futures import ThreadPoolExecutor

    from spark_fits_spark.fitscore.file import HDU_TYPE_BINTABLE, open_hdu
    from spark_fits_spark.fitscore.vfs import resolve_fs
    from spark_fits_spark.sources.fits_datasource import search_fits_files
    from spark_fits_spark.sources.fits_writer import (
        manifest_entry_from_hdu, write_manifest,
    )

    fs = resolve_fs(directory)
    files = [f for f in search_fits_files(directory)
             if f.lower().endswith(".fits")]

    def _entry(fp: str):
        try:
            with fs.open_input(fp) as f:
                info = open_hdu(f, fp, hdu)
        except ValueError:
            return None
        if info.hdu_type != HDU_TYPE_BINTABLE:
            return None
        name = fp.rstrip("/").rsplit("/", 1)[-1]
        return name, manifest_entry_from_hdu(info, fs.size(fp))

    with ThreadPoolExecutor(max_workers=min(32, max(1, len(files)))) as ex:
        entries = dict(e for e in ex.map(_entry, files) if e is not None)
    write_manifest(fs, directory, entries, hdu_index=hdu, merge=False)
    return len(entries)


def fits_recompress(spark, src: str, dst_dir: str, *,
                    cmptype: str = "RICE_1", tile_rows: int = 16,
                    quantize_method: str = "NO_DITHER",
                    zdither0: int = 1, checksum: bool = True,
                    tables: bool = False, table_tile_rows: int = 1000):
    """Distributed archive re-compression — the fpack batch job, one
    task per file: every IMAGE HDU (including a primary image, which
    moves into a compressed extension under a fresh empty primary,
    exactly like fpack) is rewritten as a tiled-compressed HDU
    (``fitscore.tilecomp``); every other HDU is copied byte-verbatim
    (its CHECKSUM cards stay valid). Float images under RICE_1
    quantize per tile — LOSSY by design (``quantize_method`` NO_DITHER,
    SUBTRACTIVE_DITHER_1 or SUBTRACTIVE_DITHER_2); the gzip codecs are
    lossless for every pixel type.

    ``tables=True`` (fpack's ``-table`` mode) also rewrites BINTABLE
    HDUs as tiled-compressed tables (``fitscore.tabcomp``, GZIP_2 per
    column — lossless); tables with variable-length (P/Q) columns stay
    byte-verbatim (the convention cannot hold a heap inside a heap).

    Returns one row per input file: output path, HDUs converted/copied,
    byte sizes, and the error string for files the codec cannot take
    (e.g. int64 under RICE_1) — those files are reported, not written.
    """
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from spark_fits_spark.fitscore.vfs import resolve_fs
    from spark_fits_spark.sources.fits_datasource import search_fits_files

    files = search_fits_files(src)
    dst_fs = resolve_fs(dst_dir)
    dst_fs.makedirs(dst_dir)
    schema = StructType([
        StructField("file", StringType()),
        StructField("out_file", StringType()),
        StructField("hdus_converted", IntegerType()),
        StructField("hdus_copied", IntegerType()),
        StructField("in_bytes", LongType()),
        StructField("out_bytes", LongType()),
        StructField("error", StringType()),
    ])
    dst_scoped = dst_fs.scoped_for(dst_dir)

    def _convert(pair):
        import io

        import numpy as np

        from spark_fits_spark.fitscore import writer as fw
        from spark_fits_spark.fitscore.file import walk_hdus
        from spark_fits_spark.fitscore.header import header_value, parse_cards
        from spark_fits_spark.fitscore.tilecomp import _BITPIX_NP

        fp, fs = pair
        name = fp.rstrip("/").rsplit("/", 1)[-1]
        base = name[:-5] if name.lower().endswith(".fits") else name
        out_path = dst_scoped.join(dst_dir, f"{base}.fz.fits")
        converted = copied = 0
        try:
            with fs.open_input(fp) as f:
                raw = f.read()
            out_hdus: list[bytes] = []
            for i, (b, cards) in enumerate(walk_hdus(io.BytesIO(raw))):
                h = parse_cards(cards)
                naxis = int(h.get("NAXIS", "0") or "0")
                bitpix = int(h.get("BITPIX", "0") or "0")
                xt = (header_value(h, "XTENSION", "") or "").strip().upper()
                is_image = naxis > 0 and (i == 0 or xt == "IMAGE")
                if is_image:
                    dims = [int(h.get(f"NAXIS{k}", "0") or "0")
                            for k in range(1, naxis + 1)]
                    dt = np.dtype(_BITPIX_NP[bitpix])
                    count = 1
                    for d in dims:
                        count *= d
                    img = np.frombuffer(
                        raw, dtype=dt, count=count, offset=b.data_start,
                    ).reshape(tuple(reversed(dims)))
                    # physical-value cards ride along so scaling stays
                    # compression-transparent (the convention keeps the
                    # uncompressed image's cards in the table header)
                    extra = []
                    for kw in ("BSCALE", "BZERO", "BLANK", "EXTNAME"):
                        v = header_value(h, kw, None)
                        if v is not None:
                            try:
                                extra.append(fw._card(
                                    kw, int(v) if kw == "BLANK"
                                    else (v if kw == "EXTNAME"
                                          else float(v))))
                            except ValueError:
                                pass
                    rows_clamp = (min(tile_rows, dims[1])
                                  if naxis >= 2 else 1)
                    out_hdus.append(fw.compressed_image_hdu(
                        img, cmptype, tile_rows=rows_clamp,
                        extra_cards=extra, checksum=checksum,
                        quantize_method=quantize_method, zdither0=zdither0))
                    converted += 1
                elif i == 0:
                    continue  # data-less primary: fresh one written below
                elif tables and xt == "BINTABLE" and not (
                        header_value(h, "ZIMAGE", "")
                        or header_value(h, "ZTABLE", "")):
                    cols = _table_columns_for_recompress(raw, fp, i)
                    if cols is None:       # VLA columns: copy verbatim
                        out_hdus.append(raw[b.header_start:b.block_stop])
                        copied += 1
                        continue
                    columns, extra = cols
                    out_hdus.append(fw.compressed_bintable_hdu(
                        columns, tile_rows=table_tile_rows,
                        ctypes="GZIP_2", extra_cards=extra,
                        checksum=checksum))
                    converted += 1
                else:
                    out_hdus.append(raw[b.header_start:b.block_stop])
                    copied += 1
            payload = io.BytesIO()
            fw.write_fits(out_path, out_hdus, checksum=checksum,
                          fobj=payload)
            data = payload.getvalue()
            with dst_scoped.open_output(out_path) as f:
                f.write(data)
            return [(fp, out_path, converted, copied, len(raw),
                     len(data), None)]
        except Exception as e:  # noqa: BLE001 — per-file error reporting
            return [(fp, None, 0, 0, 0, 0, f"{type(e).__name__}: {e}")]

    rdd = spark.sparkContext.parallelize(
        _with_scoped_fs(files), max(1, len(files)))
    return spark.createDataFrame(rdd.flatMap(_convert), schema)


def _table_columns_for_recompress(raw: bytes, path: str, hdu_index: int):
    """Extract a BINTABLE HDU's columns as the (name, tform, values)
    spec ``compressed_bintable_hdu`` takes, plus the per-column cards
    worth carrying (TSCAL/TZERO/TNULL/TDMIN/TDMAX, EXTNAME). Returns
    None when the table has variable-length columns (left verbatim)."""
    import io

    import numpy as np

    from spark_fits_spark.fitscore import writer as fw
    from spark_fits_spark.fitscore.decode import build_row_dtype
    from spark_fits_spark.fitscore.file import open_hdu
    from spark_fits_spark.fitscore.header import header_value

    hdu = open_hdu(io.BytesIO(raw), path, hdu_index)
    infos = hdu.tform_infos
    if any(i.is_varlen or i.byte_width == 0 for i in infos):
        return None
    idx = list(range(len(hdu.col_names)))
    rec = np.frombuffer(
        raw, dtype=build_row_dtype(hdu, idx), count=hdu.n_rows,
        offset=hdu.boundaries.data_start)
    columns = []
    for pos, (name, tform, info) in enumerate(
            zip(hdu.col_names, hdu.col_tforms, infos)):
        vals = rec[f"f{pos}"]
        if info.letter == "L":
            vals = vals == b"T"   # S1 'T'/'F' -> bool (writer re-encodes)
        columns.append((name, tform.strip(), vals))
    extra = []
    for i in range(1, len(hdu.col_names) + 1):
        for kw in (f"TSCAL{i}", f"TZERO{i}", f"TNULL{i}",
                   f"TDMIN{i}", f"TDMAX{i}"):
            v = header_value(hdu.header, kw, None)
            if v is not None:
                try:
                    extra.append(fw._card(
                        kw, int(v) if kw.startswith("TNULL")
                        else float(v)))
                except ValueError:
                    pass
    en = header_value(hdu.header, "EXTNAME", None)
    if en is not None:
        extra.append(fw._card("EXTNAME", en))
    return columns, extra
