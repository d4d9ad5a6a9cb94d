"""Optimized-plan fingerprints: one hash per registered non-stream query.

Builds every registered query (the ``stream_*`` family excepted) at
sf0.001 in one fixed session — ``local[4]`` with the default shuffle
partitions — and writes ``{name: sha256}`` to ``PLANHASH.json``. A
refactor that claims "same behaviour" regenerates the file and shows it
byte-identical; ``tests/test_planhash.py`` compares live hashes against
the committed file.

What is hashed: ``queryExecution().optimizedPlan()`` of the returned
frame, plus the optimized plan of every frame pinned with
``localCheckpoint`` while the query was being built (a pin appears in the
final plan only as ``LogicalRDD [cols]``, which hides its subtree).

What is normalized: exprIds (``#n``), ``plan_id=n`` tags, RDD ids, the
session counter in lambda variable names (``lambda x_12``), and the
10+-digit seeds Spark draws for an unseeded ``rand()``/``randn()``.
Explicit seeds stay in the hash.

Usage:
    python tools/planhash.py [--out PLANHASH.json] [--only a,b]
    python tools/planhash.py --check      # compare against --out, exit 1 on drift
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
DEFAULT_OUT = os.path.join(REPO, "PLANHASH.json")
MASTER = "local[4]"

_NORMALIZERS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(lambda \w+)_\d+"), r"\1_"),
    (re.compile(r"\b(randn?)\(-?\d{10,}\)"), r"\1(?)"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZERS:
        plan = pattern.sub(repl, plan)
    return plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@contextlib.contextmanager
def capture_pins():
    """Record the optimized plan of every frame pinned inside the block.

    The wrapper sits on the classic DataFrame class: query code calls
    ``localCheckpoint`` on classic frames, so wrapping the public
    ``pyspark.sql.DataFrame`` base would catch nothing.
    """
    from pyspark.sql.classic.dataframe import DataFrame

    pins: list[str] = []
    original = DataFrame.localCheckpoint

    def wrapped(self, *args, **kwargs):
        pins.append(_optimized(self))
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = wrapped
    try:
        yield pins
    finally:
        DataFrame.localCheckpoint = original


def fingerprint(plan: str, pins: list[str] = ()) -> str:
    h = hashlib.sha256(normalize(plan).encode())
    for pin in pins:
        h.update(b"\0pin\0")
        h.update(normalize(pin).encode())
    return h.hexdigest()


def query_hash(spark, query) -> str:
    with capture_pins() as pins:
        df = query.spark(spark, SF_DIR)
    return fingerprint(_optimized(df), pins)


def fixed_session():
    """The one session every fingerprint is taken in."""
    os.environ["SPARK_MASTER"] = MASTER
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    return get_spark("planhash")


def compute(only: list[str] | None = None) -> dict[str, str]:
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    spark = fixed_session()
    hashes: dict[str, str] = {}
    for name, q in load_all().items():
        if name.startswith("stream_") or (only and name not in only):
            continue
        hashes[name] = query_hash(spark, q)
        print(f"{hashes[name][:16]}  {name}", flush=True)
    return dict(sorted(hashes.items()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=DEFAULT_OUT)
    ap.add_argument("--only", default="")
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    only = args.only.split(",") if args.only else None
    hashes = compute(only)
    if args.check:
        with open(args.out) as fh:
            committed = json.load(fh)
        if only:
            committed = {n: h for n, h in committed.items() if n in only}
        drift = sorted(n for n in committed.keys() | hashes.keys() if committed.get(n) != hashes.get(n))
        for name in drift:
            print(f"DRIFT {name}", flush=True)
        print(f"{len(hashes)} queries, {len(drift)} drifted")
        sys.exit(1 if drift else 0)
    with open(args.out, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {args.out} ({len(hashes)} queries)")


if __name__ == "__main__":
    main()
