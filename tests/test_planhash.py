"""Plan fingerprints (tools/planhash.py): what the normalizer forgives,
what it must still see, and the committed PLANHASH.json against live
plans of the whole registry."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from tools import planhash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hash(build) -> str:
    with planhash.capture_pins() as pins:
        df = build()
    return planhash.fingerprint(planhash._optimized(df), pins)


def test_renumbered_expr_ids_hash_equal():
    a = "Project [a#1, b#2L]\n+- Filter (a#1 > 2)\n   +- LogicalRDD [a#1, b#2L], false"
    b = "Project [a#71, b#9L]\n+- Filter (a#71 > 2)\n   +- LogicalRDD [a#71, b#9L], false"
    assert planhash.fingerprint(a) == planhash.fingerprint(b)
    assert planhash.fingerprint("x plan_id=3 RDD[5]") == planhash.fingerprint("x plan_id=8 RDD[12]")


def test_same_build_twice_hashes_equal(spark):
    def build():
        return spark.range(10).selectExpr("id * 2 AS x", "transform(array(id), v -> v + 1) AS y").filter("x > 2")

    assert _hash(build) == _hash(build)


def test_changed_literal_hashes_different(spark):
    assert _hash(lambda: spark.range(10).filter("id > 2")) != _hash(lambda: spark.range(10).filter("id > 3"))


def test_generated_seed_normalized_explicit_seed_kept(spark):
    def salted(seed=None):
        return lambda: spark.range(10).withColumn("s", F.rand(seed) if seed is not None else F.rand())

    assert _hash(salted()) == _hash(salted())
    assert _hash(salted(1)) != _hash(salted(2))


def test_changed_pinned_subplan_hashes_different(spark):
    def pinned(cut):
        return lambda: spark.range(10).filter(f"id > {cut}").localCheckpoint(eager=False).select("id")

    # the final plans differ only below the pin, which they show as a bare
    # LogicalRDD leaf
    top = [planhash.normalize(planhash._optimized(pinned(cut)())) for cut in (2, 3)]
    assert top[0] == top[1]
    assert _hash(pinned(2)) != _hash(pinned(3))


def test_registry_matches_committed_planhash():
    """Every non-stream query's live fingerprint equals PLANHASH.json. The
    tool runs in its own process so the fingerprints come from its fixed
    session (local[4], default shuffle partitions), not the test session."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "planhash.py"), "--check"],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    drift = [line for line in proc.stdout.splitlines() if line.startswith("DRIFT")]
    assert proc.returncode == 0, (drift, proc.stdout[-2000:], proc.stderr[-2000:])
