"""Session construction with scale-appropriate defaults.

These settings are what we would run with on a 1000-executor cluster
reading ~100 TB; locally they also give the best local[N] behavior:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching (broadcast when a side turns out
  small).
- ``spark.sql.python.filterPushdown.enabled``: required for the `fits`
  datasource's pushFilters path (off by default in Spark 4.1).
- Arrow enabled for pandas UDF paths used by the operators library.
"""

from __future__ import annotations

import os
import re

_JIT_BATCH_ON = ("1", "true", "yes", "on")
_JIT_BATCH_OFF = ("0", "false", "no", "off")


def tuned_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf


def jit_jvm_options(master: str | None = None) -> str:
    """JVM compilation-policy options (see the comment block in
    :func:`build_session` for the measured rationale).

    ``-Xbatch`` (synchronous JIT) defaults ON only when ``master`` is
    ``local`` or ``local[...]`` — the many-plans single-JVM profile where
    the full-bench on/off pair measured it bounding 3–20x CPU-grind
    inflation across the expression-heavy suite band — and OFF for every
    other master, ``local-cluster[...]`` included, where synchronous
    compilation stalls every task thread at each tiered compile during
    executor warmup (r10 ADVICE). ``SPARK_GRAFT_JIT_BATCH`` overrides
    either way; 1/true/yes/on and 0/false/no/off are accepted
    case-insensitively, and any other non-blank value raises
    ``ValueError``."""
    opts = "-XX:-DontCompileHugeMethods"
    raw = os.environ.get("SPARK_GRAFT_JIT_BATCH", "")
    v = raw.strip().lower()
    if v in _JIT_BATCH_ON:
        batch = True
    elif v in _JIT_BATCH_OFF:
        batch = False
    elif v:
        raise ValueError(
            f"SPARK_GRAFT_JIT_BATCH={raw!r} is not recognized; accepted "
            f"(case-insensitive): {', '.join(_JIT_BATCH_ON)} to turn "
            f"-Xbatch on, {', '.join(_JIT_BATCH_OFF)} to turn it off, or "
            f"unset for the master's default")
    else:
        batch = re.fullmatch(r"local(\[[^\]]*\])?", master or "") is not None
    if batch:
        opts += " -Xbatch"
    return opts


def build_session(app_name: str = "spark-fits-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict[str, str] | None = None):
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

    # Make this package importable in executor Python workers: the
    # datasource/UDF closures are pickled by reference to the module. In
    # local mode the workers inherit the driver JVM's environment, so
    # extending PYTHONPATH before JVM launch suffices; on a real cluster
    # ship the package with --py-files / spark.submit.pyFiles instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))

    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    builder = builder.config("spark.executorEnv.PYTHONPATH",
                             os.environ["PYTHONPATH"])
    # JVM compilation-policy flags, all output-neutral:
    #
    # -XX:-DontCompileHugeMethods — backstop: let HotSpot JIT-compile
    # generated methods past its 8000-bytecode limit. The r9 MinHash
    # plan shape (coalesced probe fusing bucket join + exact-Jaccard
    # verify into one span) generated such a method and silently ran
    # the WHOLE span INTERPRETED — measured 42x CPU on identical
    # rows/plan (q22 verify: 13.7 s vs 576 s of executorCpuTime; q48
    # read 280 s in a full bench run). The r10 plan restructure keeps
    # every span small (measured max 1953 bytecode via CodegenMetrics),
    # so the flag is cheap insurance, kept unconditional.
    #
    # -Xbatch (synchronous JIT) — LOCAL-MASTER default only (r11).
    # Two committed A/Bs: an 8-query per-rep CPU A/B
    # (OPTIMIZATION_r11.md §1, plans/r11/xbatch_ab_*.json) found the
    # dedup-chain grind alive under the flag (it is NOT a grind fix),
    # but the full-bench on/off pair (ON: BENCH_DETAIL.json at commit
    # 757cf9a, host_gate_ok false; OFF: plans/r11/
    # BENCH_DETAIL_r11_jitbatch_off.json, host_gate_ok true) measured the
    # expression-heavy suite band (q25-q86: md5 n-grams, HOF dots,
    # quantize maps) inflating 3-20x with the flag OFF in the
    # 112-query single-JVM profile, while trivial rows alongside sat
    # at best-ever values.
    # Interleaving hundreds of generated classes churns the tiered
    # compiler's queue; blocking compilation bounds it. On a CLUSTER
    # the default is OFF (r10 ADVICE: synchronous JIT stalls every
    # task thread at each tiered compile during executor warmup);
    # SPARK_GRAFT_JIT_BATCH=1/0 overrides either way.
    master_url = master or f"local[{cpus}]"
    jvm_opts = jit_jvm_options(master_url)
    builder = builder.config("spark.driver.defaultJavaOptions", jvm_opts)
    builder = builder.config("spark.executor.defaultJavaOptions", jvm_opts)
    # local mode runs everything in one JVM whose default heap is 1g —
    # far too small for 32 concurrent tasks (cached shingle tables,
    # broadcast sides, sort buffers all GC-thrash). Only effective at
    # JVM launch; harmless if a session already exists.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    for k, v in tuned_conf(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from spark_fits_spark import register_fits

    register_fits(spark)
    return spark
