"""Cluster-mode packaging: a BARE SparkSession (no repo on PYTHONPATH,
cwd outside the repo) must still run pandas-UDF operators end-to-end —
``register_fits`` ships the package zip via ``addPyFile`` so executor
Python workers can unpickle closures that reference spark_fits_spark.
Pins the round-2 executor-unpickle fix against regressions.
"""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})  # driver-side import only; executor
    # workers inherit the JVM env, which this test scrubs of PYTHONPATH
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("bare-packaging-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from spark_fits_spark import register_fits

    register_fits(spark)

    # 1) the python datasource itself (executor unpickles FitsDataSource)
    ref = "/root/reference/src/test/resources/test_file.fits"
    df = spark.read.format("fits").option("hdu", 1).load(ref)
    assert df.count() == 20000, "fits scan failed on bare session"

    # 2) a pandas-UDF operator whose closure is pickled by reference to
    # the spark_fits_spark package (the exact r2 failure mode)
    from spark_fits_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.semdedup(
        emb, "embedding", "vec_id", k=2, iters=1, threshold=0.9)
    n = out.count()
    assert n == emb.count(), f"semdedup returned {{n}} rows"
    spark.stop()
    print("BARE-SESSION-OK", n)
    """
).format(repo=REPO)


def test_bare_session_runs_pandas_udf_operators(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYTHONSTARTUP")}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=str(tmp_path),  # not the repo: workers must use the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, (
        f"bare session failed\nstdout:\n{proc.stdout[-3000:]}\n"
        f"stderr:\n{proc.stderr[-3000:]}")
    assert "BARE-SESSION-OK" in proc.stdout


def test_jit_jvm_options_composition(monkeypatch):
    """The session's JVM compilation-policy options (r11): synchronous
    JIT defaults ON only for ``local`` / ``local[...]`` masters (the
    full-bench on/off pair measured the expression-heavy band
    inflating 3-20x without it in the many-plans single-JVM profile)
    and OFF for every other master, ``local-cluster[...]`` included
    (r10 ADVICE: blocking compilation stalls executor warmup); the env
    override wins either way with normalized truthy/falsy values, and
    an unrecognized value raises; the huge-method backstop is always
    present."""
    from spark_fits_spark.plans.session import jit_jvm_options

    base = "-XX:-DontCompileHugeMethods"
    monkeypatch.delenv("SPARK_GRAFT_JIT_BATCH", raising=False)
    assert jit_jvm_options("local[32]") == base + " -Xbatch"
    assert jit_jvm_options("local[*]") == base + " -Xbatch"
    assert jit_jvm_options("local") == base + " -Xbatch"
    for cluster in ("spark://host:7077", "yarn", "k8s://https://x", None,
                    "local-cluster[2,1,1024]"):
        assert jit_jvm_options(cluster) == base, cluster
    monkeypatch.setenv("SPARK_GRAFT_JIT_BATCH", "  ")
    assert jit_jvm_options("local[32]") == base + " -Xbatch"
    monkeypatch.setenv("SPARK_GRAFT_JIT_BATCH", "maybe")
    with pytest.raises(ValueError, match=r"'maybe'.*1, true, yes, on"):
        jit_jvm_options("local[32]")
    for off in ("0", "false", "no", "off", "FALSE"):
        monkeypatch.setenv("SPARK_GRAFT_JIT_BATCH", off)
        assert jit_jvm_options("local[32]") == base, off
    for on in ("1", "true", "YES", "On"):
        monkeypatch.setenv("SPARK_GRAFT_JIT_BATCH", on)
        assert jit_jvm_options("yarn") == base + " -Xbatch", on
