"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` with a modest shuffle-partition count;
on a real cluster the same settings (AQE on, adaptive coalescing, skew-join
handling) are the ones that matter at 100 TB. ANSI mode is disabled because
the engine's reference semantics (etielle, see SURVEY.md) are
permissive: missing paths, out-of-bounds list indices and failed casts
yield NULL rather than raising (reference: etielle/transforms.py:83-114).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "etielle_spark", *, cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        # reliable-checkpoint files (the CC loop's converged round —
        # operators/graph.py deletes superseded rounds itself) are
        # reaped once their frames are GC'd instead of outliving the
        # driver
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # per-op call-site capture costs 3 extra py4j round trips + a
        # Python traceback walk on EVERY DataFrame method — measured
        # ~40% of the fluent compile latency (q11 build 0.68 s -> 0.40 s).
        # The trade is losing the PySpark line number in JVM analysis
        # error messages; the engine raises its own contextual errors.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # input split size: 32m LOST to 128m across the board at sf0.1
        # (two full headline benches, total 20.0 vs 18.7 s) — extra tiny
        # tasks cost more than the scan parallelism buys.  A CPU-bound
        # cluster scan (tokenize/minhash over few huge files) overrides
        # it through SPARK_GRAFT_EXTRA_CONF.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # generic env-driven conf passthrough: semicolon-separated k=v pairs,
    # e.g. SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;..." —
    # the parameterization seam for cluster-scale knobs (shuffle codec,
    # AQE advisory sizes) that a local bench cannot adjudicate, and for
    # conf A/B experiments without code edits (a tools/ab_cold.py
    # variant "REV SPARK_GRAFT_EXTRA_CONF=k=v;...").  A pair without "="
    # raises: a silently dropped knob would make a misconfigured A/B
    # look real.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF: {pair!r} is not a key=value pair"
            )
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def partitions_for_rows(spark: SparkSession, rows: int) -> int:
    """Shuffle partition count for ``rows`` small rows: ~50k rows per
    task, clamped to [4, the session's ``spark.sql.shuffle.partitions``]
    so big inputs keep full parallelism.  Callers set it on their own
    plan or on a child session, never on ``spark``."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cur, max(4, -(-int(rows) // 50_000)))


# applicationIds whose Python workers already have the package zip on
# sys.path.  Keyed by string id (not the SparkContext object) so a
# stop/start cycle with a new app id re-ships.
_SHIPPED_APPS: set[str] = set()


def _package_zip(pkg_dir: Path) -> Path:
    """Zip the ``etielle_spark`` package into a content-addressed archive.

    The archive name embeds a digest of every ``.py`` file's bytes, so a
    code edit produces a NEW file name — ``addPyFile`` refuses to re-add a
    changed file under the same name, and a stale zip would silently pin
    old worker code.  Existing archive with the same digest is reused.
    """
    files = sorted(
        p for p in pkg_dir.rglob("*.py") if "__pycache__" not in p.parts
    )
    h = hashlib.sha1()
    for p in files:
        h.update(str(p.relative_to(pkg_dir)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    zip_path = Path(tempfile.gettempdir()) / f"etielle_spark-pyfiles-{h.hexdigest()[:12]}.zip"
    if zip_path.exists():
        return zip_path
    tmp = zip_path.with_name(zip_path.name + f".tmp{os.getpid()}")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in files:
            zf.write(p, arcname=str(Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    os.replace(tmp, zip_path)  # atomic: concurrent builders converge
    return zip_path


def ship_package(spark: SparkSession | DataFrame) -> str | None:
    """Make ``etielle_spark`` importable inside Python workers.

    Arrow-batched operators (``mapInPandas`` / ``applyInPandas`` /
    ``applyInPandasWithState``) pickle closures that reference this
    package by module name — the worker resolves them with a real
    ``import etielle_spark...``.  On ``local[N]`` that works only
    because workers inherit the driver's cwd; on a real cluster (and
    from any other cwd) every such operator dies with a worker-side
    ``ModuleNotFoundError``.  This zips the package and registers it via
    ``sc.addPyFile`` so workers get it on ``sys.path`` regardless of cwd.

    Idempotent per application (set lookup after the first call) and
    called from every Arrow-UDF operator entry point, so it also covers
    sessions NOT built by :func:`get_spark` (e.g. a test harness that
    hands the engine its own ``SparkSession``).

    Returns the zip path on the call that shipped it, ``None`` after.
    """
    if isinstance(spark, DataFrame):
        spark = spark.sparkSession
    sc = spark.sparkContext
    # fast path: a Python-side flag on the context object (operators call
    # this on every invocation; the applicationId lookup is a py4j trip)
    if getattr(sc, "_etielle_spark_shipped", False):
        return None
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        sc._etielle_spark_shipped = True
        return None
    pkg_dir = Path(__file__).resolve().parent
    if not pkg_dir.is_dir():
        # imported from a zip/egg that spark-submit already distributed
        _SHIPPED_APPS.add(app_id)
        sc._etielle_spark_shipped = True
        return None
    # mark shipped only AFTER addPyFile succeeds — a transient failure
    # (tempdir unwritable, py4j hiccup) must stay retryable, or every
    # later Arrow-UDF call silently skips shipping and dies worker-side
    zip_path = _package_zip(pkg_dir)
    sc.addPyFile(str(zip_path))
    _SHIPPED_APPS.add(app_id)
    sc._etielle_spark_shipped = True
    return str(zip_path)
