"""Cold-JVM interleaved A/B runner.

Each SAMPLE is one fresh python+JVM subprocess that runs a named
measurement target with bench.py's methodology (one untimed warm
pass, then 3 timed runs, median) and prints ``MED=<sec>``.  Arms
alternate A,B,B,A,A,B,... so monotone box drift cancels instead of
biasing one side.

A VARIANT is a git revision, optionally followed by env assignments, as
one argument: ``"REV [KEY=VALUE ...]"``.  Each distinct revision is
checked out once into a temporary ``git worktree`` (removed on exit) and
the child imports the engine and ``bench.py`` from there; the
measurement code is always this file.  Conf A/Bs ride the session's
``SPARK_GRAFT_EXTRA_CONF`` seam, e.g.
``"HEAD SPARK_GRAFT_EXTRA_CONF=spark.sql.adaptive.advisoryPartitionSizeInBytes=8m"``.

Targets (comma-separate several to interleave them as arms):
  <query>          a benchqueries.QUERIES entry at SPARK_GRAFT_SF_DIR
                   (default sf0.1), noop sink — e.g. q30_simhash
  curve:<query>    the same query at the 100x curve corpus
                   (.benchdata/sf1synth, built by one bench.py run),
                   operator caches released between runs
  q11_floor        hand-written same-semantics floor of
                   q11_backlink_collect (SCALING.md, q11 receipt)
  headline         sum of the per-query medians over bench.HEADLINE
  streaming_ref    bench.streaming_reference_workload
  streaming_events bench.streaming_events_windows

Usage:
  SPARK_GRAFT_CPUS=32 python tools/ab_cold.py TARGET VARIANT [VARIANT ...] [--pairs 3]
  e.g. python tools/ab_cold.py curve:q239_cluster_canonicalize 877d593^ 877d593
       python tools/ab_cold.py q11_backlink_collect,q11_floor HEAD
  python tools/ab_cold.py --child TARGET SRC     (internal)
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BIG_DIR = os.path.join(REPO, ".benchdata", "sf1synth")


def _timed(fn, runs: int = 3, between=None) -> float:
    fn()  # untimed warm pass (plan compile + codegen + page cache)
    if between is not None:
        between()
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
        if between is not None:
            between()
    return statistics.median(out)


def _noop(df) -> None:
    # the noop sink materializes EVERY column (a bare count() lets
    # Catalyst prune map-only work)
    df.write.format("noop").mode("overwrite").save()


def q11_floor(spark, sf_dir):
    """Hand-written same-semantics plan of q11_backlink_collect: doc
    groupBy + posexplode + merge join + ordered collect + rejoin.  SAME
    SEMANTICS includes the per-key merge: the synthetic lineitem has
    duplicate (orderkey, linenumber) pairs, so the child table must
    collapse to one row per ln_key exactly as the engine's keyed LWW
    merge does — a floor without it is faster but WRONG (doubled
    backlink rows)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "ln_key", F.col("l_orderkey") * 100 + F.col("l_linenumber")
    )
    docs = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sort_array(F.collect_list("ln_key")).alias("line_ids")
    )
    lines = (
        li.select(F.col("ln_key"), F.col("l_linenumber").alias("ln"))
        .groupBy("ln_key")
        .agg(F.max("ln").alias("ln"))
    )
    exploded = docs.select("okey", F.posexplode("line_ids").alias("pos", "ln_key"))
    collected = (
        exploded.join(lines, "ln_key")
        .groupBy("okey")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("ln")))),
                lambda s: s.getField("ln"),
            ).alias("lns")
        )
    )
    return collected.select(
        "okey",
        F.array_join(F.transform("lns", lambda x: x.cast("string")), ",").alias(
            "lines_csv"
        ),
        F.size("lns").cast("bigint").alias("n_lines"),
    )


def measure(spark, target: str) -> float:
    from etielle_spark.benchqueries import QUERIES

    if target in ("streaming_ref", "streaming_events"):
        import bench

        fn = (
            bench.streaming_reference_workload
            if target == "streaming_ref"
            else bench.streaming_events_windows
        )
        return _timed(lambda: fn(spark))
    if target == "headline":
        import bench

        return sum(
            _timed(lambda fn=QUERIES[name][0]: _noop(fn(spark, SF_DIR)))
            for name in bench.HEADLINE
        )
    if target == "q11_floor":
        return _timed(lambda: _noop(q11_floor(spark, SF_DIR)))
    if target.startswith("curve:"):
        from etielle_spark import release_operator_caches

        if not os.path.exists(os.path.join(BIG_DIR, "_DONE")):
            raise SystemExit(f"{BIG_DIR} is missing: run bench.py once first")
        fn, _ = QUERIES[target.removeprefix("curve:")]

        def between():
            release_operator_caches()
            spark.catalog.clearCache()

        return _timed(lambda: _noop(fn(spark, BIG_DIR)), between=between)
    if target in QUERIES:
        fn, _ = QUERIES[target]
        return _timed(lambda: _noop(fn(spark, SF_DIR)))
    raise SystemExit(f"unknown target {target!r}")


def child(target: str, src: str) -> None:
    sys.path.insert(0, src)
    from etielle_spark.session import get_spark

    spark = get_spark(f"ab-{target}", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"MED={measure(spark, target):.3f}")
    spark.stop()


def _parse_variant(spec: str) -> tuple[str, dict[str, str]]:
    rev, *assigns = spec.split()
    env = {}
    for a in assigns:
        k, sep, v = a.partition("=")
        if not sep or not k:
            raise SystemExit(f"variant {spec!r}: {a!r} is not KEY=VALUE")
        env[k] = v
    return rev, env


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("target", help="measurement target(s), comma-separated")
    ap.add_argument("variants", nargs="+", help='"REV [KEY=VALUE ...]"')
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()

    arms = [
        (t, spec) for t in args.target.split(",") for spec in args.variants
    ]
    parsed = {spec: _parse_variant(spec) for spec in args.variants}
    # alternate the arms forward then reversed per pair: ABBA ABBA ...
    order = []
    for i in range(args.pairs):
        order.extend(arms if i % 2 == 0 else list(reversed(arms)))

    root = tempfile.mkdtemp(prefix="ab_cold_")
    trees: dict[str, str] = {}
    try:
        for rev, _ in parsed.values():
            if rev not in trees:
                path = os.path.join(root, f"rev{len(trees)}")
                proc = subprocess.run(
                    ["git", "-C", REPO, "worktree", "add", "--detach", path, rev],
                    capture_output=True,
                    text=True,
                )
                if proc.returncode:
                    raise SystemExit(f"revision {rev!r}: {proc.stderr.strip()}")
                trees[rev] = path
        results: dict[tuple[str, str], list[float]] = {a: [] for a in arms}
        for target, spec in order:
            rev, assigns = parsed[spec]
            env = {**os.environ, **assigns}
            env.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)
            env.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", target, trees[rev]],
                capture_output=True,
                text=True,
                env=env,
                timeout=1800,
                cwd=trees[rev],
            )
            med = None
            for line in proc.stdout.splitlines():
                if line.startswith("MED="):
                    med = float(line.split("=", 1)[1])
            if med is None:
                print(f"child FAILED target={target} variant={spec!r} rc={proc.returncode}")
                print(proc.stderr[-2000:])
                sys.exit(1)
            results[(target, spec)].append(med)
            print(
                f"sample target={target} variant={spec!r} med={med:.3f} "
                f"(subprocess wall {time.perf_counter() - t0:.1f}s)",
                flush=True,
            )
        for (target, spec), xs in results.items():
            print(
                f"RESULT target={target} variant={spec!r} "
                f"med_of_meds={statistics.median(xs):.3f} "
                f"all={[round(x, 3) for x in xs]}"
            )
    finally:
        for path in trees.values():
            subprocess.run(
                ["git", "-C", REPO, "worktree", "remove", "--force", path],
                capture_output=True,
            )
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], sys.argv[3])
    else:
        main()
