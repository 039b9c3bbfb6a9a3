"""SparkSession factory with scale-posture defaults.

Local testing runs ``local[N]``; on a real cluster the same configs apply
(AQE, adaptive coalescing/skew-join) and only master/memory change, except
the driver-side file listing, which suits local disks only (see
``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nci_seronet_proc_data_validator_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing of shuffle partitions and skew-join
      splitting, so plans survive data-size changes without retuning.
    - shuffle.partitions ~ cores locally; a cluster deployment overrides it
      (or relies on AQE's coalescing from a higher initial value).
    - UTC session timezone so timestamp semantics match the DuckDB oracle
      and are stable across environments.
    - Arrow enabled for the few Pandas-UDF paths (multimodal decode).
    - File indexes are listed on the driver, never through a Spark job.
      Spark lists an index of more than
      ``spark.sql.sources.parallelPartitionDiscovery.threshold`` root
      paths (default 32) with a job of one task per path. In this
      ``local[N]`` factory those tasks run on the driver JVM's own
      threads against the same disk, so the job adds scheduling, result
      serialization and GC and no I/O parallelism: on 4 cores a
      96-submission burst drain ran 5 such jobs, 672 of its 908 tasks.
      A deployment that lists object-store prefixes from a cluster
      builds its own session and keeps Spark's default, where the
      listing job does spread remote round trips over executors.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's SMJ -> shuffled-hash rewrite (guide §3.1): removes both
        # sorts from an iterative keyed join when every post-shuffle
        # build partition fits under the bound. Exposed as an env knob
        # for cluster tuning but DEFAULT OFF (the upstream default): a
        # same-session alternating A/B at 64m on the SMJ-heaviest keys
        # (graph_metrics 2.85->2.95 s best, dedup_clusters 2.13->2.12 s)
        # measured it neutral here — the iterative joins' frames are
        # already small enough that sorting them is not the cost.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "0"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read TIMESTAMP(NANOS) parquet (events table) as long nanos;
        # sources convert to timestamp explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet parallelism is bounded by row groups, not byte splits —
        # keep the default split size; compute-heavy stages over few-row-
        # group local files should .repartition() explicitly instead.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
        # List every file index on the driver (see the docstring): the
        # factory is local-only, a listing job costs one task per root
        # path, and the driver lists a local path in microseconds. No
        # local workload passes a million root paths to one scan.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1000000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Collect bound for oracle-parity harnesses that pull full result
        # tables (e.g. the 11M-row sf1 rulebook findings); default
        # matches Spark's own 1g — raise via env only for those runs.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"))
        # The default 100-entry codegen class cache thrashes when a
        # workload cycles through many distinct large plans (measured: the
        # minhash signature expression re-compiles for ~5s once 12 other
        # queries ran in between). Static conf — takes effect only on
        # fresh JVMs, harmless otherwise.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The rulebook compiles whole sheets (30+ raw columns + 2 typed
        # shadows each + hundreds of check predicates) into ONE projection.
        # With the default codegen limits that stage silently falls back to
        # interpreted expression evaluation: >100 fields disables
        # whole-stage codegen, and a generated method over 8 KB bytecode
        # triggers the huge-method fallback. Raising both keeps the wide
        # validation scan code-generated — measured 81.7s -> 17.0s on the
        # full-rulebook pass at sf0.1 (methods past the 8 KB JIT threshold
        # run as interpreted *bytecode*, still far cheaper than
        # interpreted Catalyst expressions).
        .config("spark.sql.codegen.maxFields", "1000")
        .config("spark.sql.codegen.hugeMethodLimit", "65535")
        # InferFiltersFromGenerate infers `size(arr) > 0 AND isnotnull(arr)`
        # below every explode; predicate pushdown then substitutes the
        # array-producing ALIAS through the projections, so the inferred
        # filter re-evaluates the whole array expression — for the n-gram
        # pipelines (tokenize → transform → md5 per element, all
        # CodegenFallback HOFs with no CSE) that is the full per-document
        # hashing THREE times per row (measured: dsir's explode stage
        # 3.2s -> 0.9s at sf0.1 with the rule excluded). The rule only
        # saves emitting rows whose arrays are empty — negligible against
        # re-hashing every document's n-grams twice more.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # FAIR scheduling so concurrent submission validations (see
        # orchestrate.validate_concurrent) share executor slots round-
        # robin across per-submission pools instead of head-of-line
        # blocking behind the largest submission. With one caller thread
        # the behavior is identical to FIFO (one pool, one job at a
        # time), so batch/bench paths are unaffected. Static conf —
        # effective on fresh JVMs only.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
