"""SparkSession builder.

One place to construct a session so every entry point (driver contract,
tests, bench) agrees on the configs that matter for correctness and scale:

- ``spark.sql.session.timeZone=UTC`` — DuckDB oracle comparisons require
  TZ-stable timestamps.
- AQE on (coalesce partitions, skew join) — at 100 TB the static plan is
  never right; AQE re-plans joins/partition counts from runtime stats.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (AQE coalescing makes the exact number
  less critical).
- Arrow enabled — every pandas_udf / createDataFrame(pandas) transfer is
  Arrow-batched.
- ``spark.driver.memory`` is min(16g, half of physical memory) unless
  ``$SPARK_GRAFT_DRIVER_MEM`` says otherwise.

**Cold-start JVM profile.** Every product entry point (the CLI sync,
``curate``, ``sqlrunner``) starts a cold local session, runs once and
exits. Such a run is bound by compiling and planning, not by executor
work: in the ``elt`` benchmark JIT was 22 of 48 CPU-seconds and task CPU
3.9. So a local session's driver JVM starts with ``LOCAL_JVM_PROFILE``,
set as ``spark.driver.defaultJavaOptions``, which Spark puts before the
caller's ``spark.driver.extraJavaOptions``: a caller's own flags come
later and win. The profile keeps tiered compilation but runs two
compiler threads, one C1 and one C2 (on 4 cores the default is three,
two of them C2), and raises the tier-4 (C2) thresholds fourfold, so a
method reaches C2 only once it is truly hot. A cluster driver
(``$SPARK_MASTER`` set) keeps the JVM defaults.

The trade, measured with ``perfbench`` on 4 cores with only the flags
differing between the sides (CHANGES.md has every run): C1 only
(``-XX:TieredStopAtLevel=1``) halves CPU per pass on both workloads, but
its hot loops stay at C1 speed: ``curate`` ran 4-8 s (50-86%) slower in
3 of 4 catalog pairs, and warm ``g_pagerank`` at sf0.1 took 11.0 s
instead of 6.7 s. This profile cuts catalog CPU per pass by a quarter
(median 122 → 92 s, 4/4 pairs) with pass time and ``curate`` flat, and
the warm times of the heaviest catalog entries do not move
(ARCHITECTURE.md §Local-bench cost model).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cores of a local session: $SPARK_GRAFT_CPUS, else the cores this process
# may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# HotSpot flags of a local session's driver JVM (module docstring):
# one C1 and one C2 thread, tier-4 thresholds x4 (JDK 17 defaults 5000, 600,
# 15000, 40000).
LOCAL_JVM_PROFILE = " ".join((
    "-XX:CICompilerCount=2",
    "-XX:Tier4InvocationThreshold=20000",
    "-XX:Tier4MinInvocationThreshold=2400",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=160000",
))


def tiny_partitions() -> int:
    """Shuffle-partition count for the sub-2-GiB tier, proportional to
    the core count (cores / 4, floor 2). 8 on 32 cores — the value every
    A/B there measured optimal — and scaled down with fewer cores so
    per-task launch overhead stays amortized the same way AND the
    driver's low-core scaling probe actually sees fewer-way parallelism
    (a literal 8 made the 8-vs-32-core comparison degenerate to ≈1
    everywhere)."""
    return max(2, DEFAULT_CPUS // 4)


def tuned_conf_for(sf_dir: str) -> dict[str, str]:
    """Runtime-settable session conf sized to the data actually under
    ``sf_dir`` — what spark-submit flags do on a real cluster, derived
    here from the local input size so harnesses (bench, oracle check,
    baseline compare) run the configuration an engineer would ship for
    that scale instead of one fixed local default:

    - **< 2 GiB input** (the local testdata SFs): ``cores / 4`` shuffle
      partitions (8 on 32 cores — the measured optimum there) and AQE
      off. Sub-GiB shuffles fit one task; with 32 partitions the
      per-task launch overhead dominates, and AQE's per-stage barrier +
      re-plan round-trip (~60-80 ms/stage measured at sf0.1) buys
      nothing when the static plan is already the right one. Every AQE
      benefit (coalescing, skew splits) targets shuffles orders of
      magnitude bigger than the whole input. The partition count DERIVES
      from the session's core count rather than pinning the literal 8:
      the per-task-overhead argument that sizes 8 partitions for 32
      cores sizes 2 for 8 cores, and a count
      proportional to cores is what makes the driver's low-vs-high-core
      scaling probe measure parallelism instead of reading ≈1 on every
      query (both core counts executing the same 8-task schedule).
    - **2-64 GiB**: 2 partitions/core, AQE on with coalescing — enough
      parallelism to keep cores busy, AQE trims the excess.
    - **>= 64 GiB** (cluster scale): leave the get_spark defaults (AQE
      on, skew-join on); the exact partition count stops mattering
      because AQE re-derives it from runtime map statistics.

    Correctness never depends on these (the driver runs our queries
    under its own session); they only set the speed/overhead trade-off.
    """
    try:
        total = 0
        for entry in os.scandir(sf_dir):
            if entry.is_file():
                total += entry.stat().st_size
            elif entry.is_dir():
                for sub in os.scandir(entry.path):
                    if sub.is_file():
                        total += sub.stat().st_size
    except OSError:
        return {}
    gib = 1024**3
    if total < 2 * gib:
        conf = {
            "spark.sql.shuffle.partitions": str(tiny_partitions()),
            "spark.sql.adaptive.enabled": "false",
        }
        if total < 64 * 1024**2:
            # Whole-stage codegen trades a per-novel-plan Janino compile
            # (~0.1-1 s) for faster per-row execution — a win from the
            # first tens of MB of hot data per query, pure overhead
            # below that. One-shot queries over the tiny local SFs never
            # amortize the compile: measured across a 40-twin sample at
            # sf0.1 (17 MiB), codegen-off ran 27% faster (24.5 s vs
            # 33.6 s). At the synthesized sf1 (167 MiB) the balance
            # flips — per-row interpreted eval over 10× the tokens costs
            # more than the compile (t_ccnet_buckets 8.4 s interpreted
            # vs 4.6 s compiled) — so codegen stays ON from 64 MiB up
            # (the cutoff sits between the two measured points).
            # Expression-level codegen still applies below the cutoff,
            # and entries whose kernels amortize even at sf0.1
            # (measured) opt back in via catalog.QUERY_CONF.
            conf["spark.sql.codegen.wholeStage"] = "false"
        return conf
    if total < 64 * gib:
        return {
            "spark.sql.shuffle.partitions": str(2 * DEFAULT_CPUS),
            "spark.sql.adaptive.enabled": "true",
        }
    return {}


def apply_tuned_conf(spark: SparkSession, sf_dir: str) -> None:
    """Apply ``tuned_conf_for`` to a live session (all keys are
    runtime-settable)."""
    for k, v in tuned_conf_for(sf_dir).items():
        spark.conf.set(k, v)


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``$SPARK_GRAFT_DRIVER_MEM`` is unset:
    16g, or half of the host's physical memory if that is less. A 16g
    heap on a 15 GB host grew until the host ran short of memory."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> tuple[str | None, dict[str, str]]:
    """The master (None: leave it to spark-submit) and the builder conf
    that ``get_spark`` starts a session with."""
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{DEFAULT_CPUS}]"
    n_shuffle = shuffle_partitions or DEFAULT_CPUS
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": (
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
        ),
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # testdata events.parquet carries TIMESTAMP(NANOS) which the parquet
        # reader rejects by default; read as long and convert (plans/testdata)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if master is not None and master.startswith("local"):
        # Spark puts these before the caller's extraJavaOptions, whose
        # flags therefore win
        conf["spark.driver.defaultJavaOptions"] = LOCAL_JVM_PROFILE
    if extra_conf:
        conf.update(extra_conf)
    return master, conf


def get_spark(
    app_name: str = "good_enough_timecamp_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    On a real cluster, ``master`` comes from spark-submit and the builder
    leaves it alone; locally we default to ``local[$SPARK_GRAFT_CPUS]``
    and start the JVM with ``LOCAL_JVM_PROFILE``.
    """
    master, conf = session_conf(master, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
