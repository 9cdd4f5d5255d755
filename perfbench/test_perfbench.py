"""Self-tests for the benchmark. They need no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import fixtures as fx  # noqa: E402
from perfbench import layers, run  # noqa: E402
from perfbench.workloads import WORKLOADS, Action  # noqa: E402


def _names(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def _recorder(kinds=("scan", "projected", "selective", "grouped")):
    rec = run.Recorder()
    for i, k in enumerate(kinds):
        for dt in (0.5 + i, 0.7 + i, 0.6 + i):
            rec.samples.setdefault(k, []).append(dt)
    return rec


class _FakeWorkload:
    work_dir = dir = "."
    scan_bytes = 1
    seed = 0

    def scans(self):
        return [None]

    def partitions_scanned(self):
        return 1


def test_workloads_match_benchmark_json():
    assert set(WORKLOADS) == _names("workloads")


def test_end_to_end_names_match_benchmark_json():
    m = run.end_to_end_metrics(_recorder(), 12.5, 64_000_000)
    assert set(m) == _names("end_to_end")
    assert all(isinstance(v["value"], float) and v["value"] > 0
               for v in m.values())


def test_traced_and_untraced_runs_emit_their_full_name_sets(monkeypatch):
    """Every workload's traced run reports every per-layer name, even for
    layers it does not exercise, and the untraced run every end-to-end
    name, with or without a write kind."""
    monkeypatch.setattr(layers, "walk_scan", lambda *a: {
        "decoded_per_used_bytes": 4.0})
    monkeypatch.setattr(layers, "identity_tasks", lambda *a: None)
    tracer = layers.Tracer()
    with tracer.span("session.build"):
        pass
    traced = layers.layer_metrics(None, _FakeWorkload(), _recorder(), tracer)
    assert set(traced) == _names("per_layer")
    untraced = run.end_to_end_metrics(
        _recorder(("write",) + tuple(_recorder().samples)), 1.0, 1)
    assert set(untraced) == _names("end_to_end")


def test_wrong_expected_value_counts_as_failed_action():
    rec = run.Recorder()
    right = Action("projected", lambda: 45, lambda r: r == 45)
    wrong = Action("projected", lambda: 45, lambda r: r == 46)
    raises = Action("projected", lambda: 1 / 0, lambda r: True)
    run.measure([right, wrong, raises], 0.0, rec, min_passes=1)
    assert (rec.attempted, rec.failed) == (3, 2)
    assert len(rec.samples["projected"]) == 1


def test_every_kind_gets_at_least_min_passes_samples():
    rec = run.Recorder()
    run.measure([Action("projected", lambda: 1, lambda r: r == 1)], 0.0, rec)
    assert len(rec.samples["projected"]) == run.MIN_PASSES


def test_traced_twins_swap_order_over_an_even_number_of_passes():
    order = []
    a = Action("projected", lambda: order.append("untraced"), lambda r: True)
    run.measure([a], 0.0, run.Recorder(), twin=lambda a: order.append(
        "traced"), min_passes=1)
    assert order == ["untraced", "traced", "traced", "untraced"]


def test_set_up_runs_every_action_once_and_times_only_repeats(monkeypatch):
    ran = []

    class Once:
        def actions(self, spark):
            return [Action(k, lambda k=k: ran.append(k), lambda r: True,
                           repeat=k != "write")
                    for k in ("write", "scan", "projected")]

    monkeypatch.setattr(run, "_session", lambda work: None)
    rec = run.Recorder()
    _, actions, setup_s = run.set_up(Once(), ".", rec, layers.NullTracer())
    assert ran == ["write", "scan", "projected"] and setup_s > 0
    assert [a.kind for a in actions] == ["scan", "projected"]
    assert rec.samples == {}


def test_failed_kind_fails_the_run():
    """A kind whose every action failed has no sample: its metric is NaN,
    which the run reports as incorrect instead of dropping."""
    rec = _recorder(("scan", "projected", "selective"))
    m = run.end_to_end_metrics(rec, 1.0, 1)
    assert m["grouped_agg_s"]["value"] != m["grouped_agg_s"]["value"]


def test_fixtures_are_seeded_and_truth_matches_the_files(tmp_path):
    from spark_fits_spark.fitscore.decode import decode_bintable
    from spark_fits_spark.fitscore.file import open_hdu
    from spark_fits_spark.sources.fits_datasource import _bintable_schema
    from pyspark.sql.pandas.types import to_arrow_schema

    a = fx.write_catalog(str(tmp_path / "a"), 7, 3, 1000)
    b = fx.write_catalog(str(tmp_path / "b"), 7, 3, 1000)
    assert a.catalog == b.catalog
    for fa, fb in zip(a.files, b.files):
        assert open(fa, "rb").read() == open(fb, "rb").read()

    index, dec = [], []
    for path in a.files:
        with open(path, "rb") as f:
            hdu = open_hdu(f, path, 1)
            f.seek(hdu.boundaries.data_start)
            buf = f.read(hdu.n_rows * hdu.row_bytes)
        batch = decode_bintable(buf, hdu, list(range(5)),
                                to_arrow_schema(_bintable_schema(hdu)))
        index.append(batch.column("Index").to_numpy())
        dec.append(batch.column("Dec").to_numpy())
        assert batch.column("target")[3].as_py() == f"T{index[-1][3]:09d}"
    index, dec = np.concatenate(index), np.concatenate(dec)
    t = a.catalog
    assert int(index.sum()) == t.index_sum
    sel = (index >= t.sel_lo) & (index < t.sel_hi)
    assert (int(sel.sum()), int(index[sel].sum())) == (t.sel_rows,
                                                       t.sel_index_sum)
    keys, counts = np.unique(fx.dec_bucket(dec), return_counts=True)
    assert dict(zip(keys.tolist(), counts.tolist())) == t.bucket_counts


def test_cube_truth_matches_decoded_pixels(tmp_path):
    from spark_fits_spark.fitscore.file import open_hdu
    from spark_fits_spark.fitscore.tilecomp import decode_compressed_image
    from spark_fits_spark.sources.fits_datasource import _image_schema
    from pyspark.sql.pandas.types import to_arrow_schema

    f = fx.write_cubes(str(tmp_path), 3, 2, (4, 8, 64))
    c = f.cubes
    sums = []
    for path in f.files:
        with open(path, "rb") as fh:
            hdu = open_hdu(fh, path, 1)
            fh.seek(hdu.boundaries.data_start)
            data = fh.read(hdu.boundaries.data_len)
        batch = decode_compressed_image(
            data[:hdu.n_rows * hdu.row_bytes], hdu, 0,
            to_arrow_schema(_image_schema(hdu)),
            lambda off, n: data[hdu.theap + off:hdu.theap + off + n])
        pix = np.stack(batch.column("Image").to_numpy(zero_copy_only=False))
        plane = batch.column("ImgIndex").to_numpy()
        sums.append([int(pix[plane == k].sum()) for k in range(4)])
    assert np.array_equal(np.array(sums), c.plane_pixel_sums)
    assert c.image_rows == 2 * 4 * 8


def test_stop_processes_leaves_no_child_running():
    """Every process a run started has ended when ``stop_processes``
    returns, even one that would outlive the run by itself."""
    child = subprocess.Popen(["sleep", "60"])
    run.stop_processes(None, timeout=0.2)
    assert not run._alive(child.pid)
    assert child.poll() is not None
