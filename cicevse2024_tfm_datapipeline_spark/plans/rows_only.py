"""Wave E: operators whose outputs are seeded-random, artifact-driven, or
streaming — declared with rows-only checks (SURVEY §2.8/§2.9/§2.10), plus
the P6/P7 schema-profile query (SQL-checkable).

Seeded degradations are still DETERMINISTIC (numpy default_rng keyed on
(seed, window_id), independent of partitioning) — the rows-only status is
because DuckDB can't reproduce numpy streams, not because results vary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cicevse2024_tfm_datapipeline_spark.operators.degrade import (
    degrade_windows,
    permute_feature_globally,
)
from cicevse2024_tfm_datapipeline_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)
from cicevse2024_tfm_datapipeline_spark.plans.common import power_view, pround, t
from cicevse2024_tfm_datapipeline_spark.plans.registry import register

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


#: window length T of ``_windows_df``
_SEQ_LEN = 4


def _windows_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rows with an array<array<double>> matrix column (T × F=2)
    built from the power view — input to the degradation operators."""
    pv = power_view(spark, sf_dir)
    order_win = W.partitionBy("attack", "state").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    frame = order_win.rowsBetween(-(_SEQ_LEN - 1), 0)
    step_row = F.array(F.col("value"), (F.col("value") >= 100).cast("double"))
    out = (
        pv.withColumn("__rn", F.row_number().over(order_win))
        .withColumn("matrix", F.collect_list(step_row).over(frame))
        .filter(F.col("__rn") >= _SEQ_LEN)
    )
    # unique deterministic window id = group_code·100000 + within-group rn.
    # The group code is a lexicographic rank over the DISTINCT (attack,
    # state) frame, computed window-free (triangle count join on the tiny
    # domain) and broadcast back — no unpartitioned dense_rank over rows.
    pairs = pv.select("attack", "state").distinct()
    b = pairs.select(F.col("attack").alias("__ba"), F.col("state").alias("__bs"))
    lex_lt = (F.col("__ba") < F.col("attack")) | (
        (F.col("__ba") == F.col("attack")) & (F.col("__bs") < F.col("state"))
    )
    codes = (
        pairs.join(b, lex_lt, "left")
        .groupBy("attack", "state")
        .agg(F.count("__ba").alias("__gcode"))
    )
    out = out.join(F.broadcast(codes), ["attack", "state"])
    win_id = (F.col("__gcode") + 1) * 100000 + F.col("__rn")
    return out.select(
        "attack", "state", win_id.cast("long").alias("window_id"), "matrix"
    )


def _degrade_summary(df: DataFrame) -> DataFrame:
    # r12 (the r11 N3 lesson applied): the zero/total cell counts were a
    # single interpreted fold with a STRUCT accumulator — one struct
    # allocation per matrix cell, the exact per-element-allocation shape
    # the N3 microbench measured 3.5x slower than allocation-free array
    # traversals. size(filter(...)) + size() count the same cells
    # (x == 0.0 is null-free here: matrices are dense doubles) with no
    # per-element allocation. Measured first-action 4.61 -> 4.27 /
    # 5.09 -> 4.56 s at sf0.1 (the mapInPandas stage dominates these
    # paths); rows-only hashes unchanged.
    flat = F.flatten("matrix")
    return df.select(
        "window_id",
        F.size(F.filter(flat, lambda x: x == 0.0)).alias("__z"),
        F.size(flat).alias("__n"),
    ).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("__z").alias("n_zero_cells"),
        F.sum("__n").alias("n_cells"),
    )


def _register_degrade(kind: str, severity: float) -> None:
    @register(
        f"r_degrade_{kind}",
        oracle=None,
        doc=f"R: seeded '{kind}' degradation at severity {severity} over "
        "window matrices via mapInPandas with (seed, window_id)-keyed "
        "numpy Generators — partition-order independent "
        "(func_aux/func_test.py:548-574).",
        tags=("R", kind),
    )
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        w = _windows_df(spark, sf_dir)
        deg = degrade_windows(w, "matrix", "window_id", severity, kind, seed=42)
        return _degrade_summary(deg)


for _kind, _sev in (
    ("packet_loss", 0.3),
    ("missing_variables", 0.3),
    ("clock_offset", 0.5),
    ("drift", 0.4),
):
    _register_degrade(_kind, _sev)


from cicevse2024_tfm_datapipeline_spark.plans.common import POWER_BASE_SQL  # noqa: E402


@register(
    "r_degrade_hash_packet_loss",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    framed AS (
        SELECT attack, state,
               row_number() OVER w AS rn,
               list([value, CASE WHEN value >= 100.0 THEN 1.0 ELSE 0.0 END])
                   OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
        FROM base
        WINDOW w AS (PARTITION BY attack, state ORDER BY ts, event_id)
    ),
    codes AS (
        SELECT attack, state, dense_rank() OVER (ORDER BY attack, state) AS gc
        FROM (SELECT DISTINCT attack, state FROM base)
    ),
    wins AS (
        SELECT c.gc * 100000 + f.rn AS window_id, f.m
        FROM framed f JOIN codes c USING (attack, state)
        WHERE f.rn >= 4
    ),
    deg AS (
        SELECT window_id,
               list_transform(range(0, len(m)), i ->
                   CASE WHEN ('0x' || substr(md5('42|' || CAST(window_id AS VARCHAR)
                                  || '|t|' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                             / 4294967296.0 < 0.3
                        THEN list_transform(m[i + 1], v -> 0.0)
                        ELSE m[i + 1] END) AS m2
        FROM wins
    ),
    cells AS (SELECT unnest(flatten(m2)) AS v FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_windows,
           CAST(sum(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cells,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
    """,
    doc="R1 hash twin, ORACLE-CHECKED end to end: packet-loss masking with "
    "md5-derived per-(seed, window, timestep) uniforms — pure Column "
    "expressions (operators.degrade.degrade_windows_hash), "
    "partition-independent by construction, and reproducible in ANY "
    "engine (the property the numpy-stream variant can only assert via "
    "pytest). The SQL twin rebuilds the same window matrices and mask.",
    tags=("R", "packet_loss", "hash"),
)
def r_degrade_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    w = _windows_df(spark, sf_dir)
    deg = degrade_windows_hash(w, "matrix", "window_id", 0.3, "packet_loss", seed=42)
    out = _degrade_summary(deg)
    return out.select(
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_zero_cells").cast("long").alias("n_zero_cells"),
        F.col("n_cells").cast("long").alias("n_cells"),
    )


#: literal fixture shared by the CSV-roundtrip query AND its oracle —
#: the Spark side writes/scans real CSV files, the oracle recomputes from
#: these same literals, so any divergence in the scan layer surfaces.
_CSV_POWER_ROWS = [
    ("2024-01-01 00:00:00", "charging", 10.5),
    ("2024-01-01 01:00:00", "idle", 0.25),
    ("2024-01-01 02:00:00", "charging", 180.75),
    ("2024-01-01 03:00:00", "idle", 1.5),
    ("2024-01-01 04:00:00", "charging", 220.0),
    ("2024-01-01 05:00:00", "charging", 95.125),
    ("2024-01-01 06:00:00", "idle", 0.0),
    ("2024-01-01 07:00:00", "charging", 310.5),
]
#: host rows: (c1, c2) raw strings — 'x' exercises try_cast → null
_CSV_HOST_ROWS = [
    ("1.5", "2.0"),
    ("x", "3.25"),
    ("4.0", "bad"),
    ("2.5", "1.75"),
    ("0.5", "8.0"),
]
#: filename → (derived label, pkts column values); label = stem tokens
#: after the second '-' joined by spaces (F9 filename→label rule)
_CSV_NET_FILES = {
    "cap-evseB-syn-flood.csv": ("syn flood", [3, 5, 7]),
    "cap-evseA-benign-idle.csv": ("benign idle", [11, 13]),
}


def _csv_roundtrip_sql() -> str:
    power_vals = ", ".join(f"('{t}', '{s}', {v})" for t, s, v in _CSV_POWER_ROWS)
    host_vals = ", ".join(
        f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(_CSV_HOST_ROWS)
    )
    net_vals = ", ".join(
        f"('{lbl}', {p})"
        for lbl, pkts in _CSV_NET_FILES.values()
        for p in pkts
    )
    return f"""
    WITH power(t, state, value) AS (VALUES {power_vals}),
    host(idx, c1, c2) AS (VALUES {host_vals}),
    net(label, pkts) AS (VALUES {net_vals}),
    pa AS (
        SELECT 'power' AS section, CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(CASE WHEN state = 'charging' THEN 1.0 ELSE 0.0 END), 2) AS sum_a,
               round(sum(value), 2) AS sum_b,
               round(epoch(min(CAST(t AS TIMESTAMP))) * 1.0, 2) AS sum_c
        FROM power
    ),
    ha AS (
        SELECT 'host' AS section, CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(TRY_CAST(c1 AS DOUBLE)), 2) AS sum_a,
               round(sum(TRY_CAST(c2 AS DOUBLE)), 2) AS sum_b,
               round(sum(idx * TRY_CAST(c1 AS DOUBLE)), 2) AS sum_c
        FROM host
    ),
    na AS (
        SELECT 'net:' || label AS section, CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(pkts) * 1.0, 2) AS sum_a,
               round(count(DISTINCT label) * 1.0, 2) AS sum_b,
               0.0 AS sum_c
        FROM net GROUP BY label
    )
    SELECT * FROM pa UNION ALL SELECT * FROM ha UNION ALL SELECT * FROM na
    """


@register(
    "s1_s3_csv_roundtrip",
    oracle=_csv_roundtrip_sql(),
    doc="S1-S3 + F9 CSV source layer, ORACLE-CHECKED end to end: a "
    "literal fixture is written to real CSV files, re-ingested through "
    "scan_power_csv (timestamp parse + charging flag), scan_host_csv "
    "(positional schema, try_cast coercion, file-order timestamp via the "
    "two-phase ingest scan) and scan_network_dir (multi-file glob + "
    "filename→label), then aggregated; the oracle recomputes from the "
    "same literals, so the whole scan layer — parsing, coercion, "
    "ordering, filename tagging — is what's being verified.",
    tags=("S1", "S2", "S3", "F9"),
)
def s1_s3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.sources.readers import (
        scan_host_csv,
        scan_network_dir,
        scan_power_csv,
    )

    root = os.path.join(SCRATCH, "csv_src")
    net_dir = os.path.join(root, "net")
    os.makedirs(net_dir, exist_ok=True)
    with open(os.path.join(root, "power.csv"), "w") as fh:
        fh.write("time,State,value\n")
        for t_, s_, v_ in _CSV_POWER_ROWS:
            fh.write(f"{t_},{s_},{v_}\n")
    with open(os.path.join(root, "host.csv"), "w") as fh:
        fh.write("c1,c2,time,State\n")
        for i, (a, b) in enumerate(_CSV_HOST_ROWS):
            fh.write(f"{a},{b},{i},idle\n")
    for fname, (_lbl, pkts) in _CSV_NET_FILES.items():
        with open(os.path.join(net_dir, fname), "w") as fh:
            fh.write("pkts\n")
            for p in pkts:
                fh.write(f"{p}\n")

    power = scan_power_csv(spark, os.path.join(root, "power.csv"))
    pa = power.agg(
        F.lit("power").alias("section"),
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum(F.col("state_bin").cast("double")), 2).alias("sum_a"),
        pround(F.sum("value"), 2).alias("sum_b"),
        pround(F.min(F.col("timestamp").cast("long")).cast("double"), 2).alias("sum_c"),
    )
    host = scan_host_csv(spark, os.path.join(root, "host.csv"))
    ha = host.agg(
        F.lit("host").alias("section"),
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("c1"), 2).alias("sum_a"),
        pround(F.sum("c2"), 2).alias("sum_b"),
        pround(F.sum(F.col("timestamp") * F.col("c1")), 2).alias("sum_c"),
    )
    net = scan_network_dir(spark, os.path.join(net_dir, "*.csv"))
    na = net.groupBy("label_mul_raw").agg(
        F.concat(F.lit("net:"), F.col("label_mul_raw")).alias("section"),
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum(F.col("pkts").cast("double")), 2).alias("sum_a"),
        pround(F.countDistinct("label_mul_raw").cast("double"), 2).alias("sum_b"),
        F.lit(0.0).alias("sum_c"),
    ).drop("label_mul_raw")
    return pa.unionByName(ha).unionByName(na)


#: DuckDB twin of _windows_df — identical window matrices / window ids
#: (kept in lockstep with the r_degrade_hash_packet_loss oracle).
_WINS_SQL = """
    framed AS (
        SELECT attack, state,
               row_number() OVER w AS rn,
               list([value, CASE WHEN value >= 100.0 THEN 1.0 ELSE 0.0 END])
                   OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
        FROM base
        WINDOW w AS (PARTITION BY attack, state ORDER BY ts, event_id)
    ),
    codes AS (
        SELECT attack, state, dense_rank() OVER (ORDER BY attack, state) AS gc
        FROM (SELECT DISTINCT attack, state FROM base)
    ),
    wins AS (
        SELECT c.gc * 100000 + f.rn AS window_id, f.m
        FROM framed f JOIN codes c USING (attack, state)
        WHERE f.rn >= 4
    )
"""

#: md5-uniform building block (axis + index spliced in per use)
def _u_sql(axis: str, idx: str, half: bool = False) -> str:
    base = (
        f"('0x' || substr(md5('42|' || CAST(window_id AS VARCHAR) || '|{axis}|' "
        f"|| CAST({idx} AS VARCHAR)), 1, 8))::BIGINT"
    )
    return f"(({base}) + 0.5) / 4294967296.0" if half else f"({base}) / 4294967296.0"


@register(
    "r_degrade_hash_missing_variables",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_WINS_SQL},
    deg AS (
        SELECT window_id,
               list_transform(m, row ->
                   list_transform(range(0, len(row)), fi ->
                       CASE WHEN {_u_sql("fi", "fi")} < 0.3
                            THEN 0.0 ELSE row[fi + 1] END)) AS m2
        FROM wins
    ),
    cells AS (SELECT unnest(flatten(m2)) AS v FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_windows,
           CAST(sum(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cells,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM cells
    """,
    doc="R2 hash twin, ORACLE-CHECKED: missing-variables masking with "
    "md5-derived per-(seed, window, feature) uniforms — pure Column "
    "expressions (operators.degrade.degrade_windows_hash), partition-"
    "independent, reproducible in any engine. Same mask derivation the "
    "R1 twin proved SQL-checkable, over the feature axis.",
    tags=("R", "missing_variables", "hash"),
)
def r_degrade_hash_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    w = _windows_df(spark, sf_dir)
    deg = degrade_windows_hash(w, "matrix", "window_id", 0.3, "missing_variables", seed=42)
    out = _degrade_summary(deg)
    return out.select(
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_zero_cells").cast("long").alias("n_zero_cells"),
        F.col("n_cells").cast("long").alias("n_cells"),
    )


#: position-weighted checksum — zero-cell counts are roll-INVARIANT, so
#: the clock-offset check must weight by (t, f) position to see the shift
_CHK_EXPR = (
    "aggregate(flatten(transform(matrix, (row, t) -> "
    "transform(row, (v, fi) -> v * (t + 1) * (fi + 1)))), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)


@register(
    "r_degrade_hash_clock_offset",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_WINS_SQL},
    sh AS (
        SELECT window_id, m,
               CAST(floor(0.5 * len(m)) AS INT) AS ms,
               CAST(floor({_u_sql("s", "0")} * (2 * CAST(floor(0.5 * len(m)) AS INT) + 1))
                    AS INT) - CAST(floor(0.5 * len(m)) AS INT) AS sft
        FROM wins
    ),
    deg AS (
        SELECT window_id,
               CASE WHEN ms > 0 THEN
                   list_transform(range(0, len(m)), t ->
                       m[((t - sft) % len(m) + len(m)) % len(m) + 1])
               ELSE m END AS m2
        FROM sh
    )
    SELECT window_id,
           round(list_sum(flatten(list_transform(range(0, len(m2)), t ->
               list_transform(range(0, len(m2[t + 1])), fi ->
                   m2[t + 1][fi + 1] * (t + 1) * (fi + 1))))), 4) AS chk
    FROM deg
    """,
    doc="R3 hash twin, ORACLE-CHECKED per window: circular clock-offset "
    "roll with an md5-derived uniform shift on [-ms, ms], ms = "
    "int(severity·T) — integer-exact in any engine. The per-window "
    "checksum weights cells by (t+1)(f+1): a roll changes it, so the "
    "oracle verifies the SHIFT itself, not just cell multisets.",
    tags=("R", "clock_offset", "hash"),
)
def r_degrade_hash_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    w = _windows_df(spark, sf_dir)
    deg = degrade_windows_hash(w, "matrix", "window_id", 0.5, "clock_offset", seed=42)
    return deg.select("window_id", pround(F.expr(_CHK_EXPR), 4).alias("chk"))


@register(
    "r_degrade_hash_drift",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_WINS_SQL},
    deg AS (
        SELECT window_id,
               list_transform(range(0, len(m)), t ->
                   list_transform(range(0, len(m[t + 1])), fi ->
                       m[t + 1][fi + 1]
                       + (CASE WHEN len(m) > 1
                               THEN t * 1.0 / (len(m) - 1) ELSE 0.0 END)
                       * (sqrt(-2.0 * ln({_u_sql("d1", "fi", half=True)}))
                          * cos(2.0 * pi() * {_u_sql("d2", "fi", half=True)}))
                       * 0.4)) AS m2
        FROM wins
    )
    SELECT window_id, round(list_sum(flatten(m2)), 4) AS chk
    FROM deg
    """,
    doc="R4 hash twin, ORACLE-CHECKED per window: per-feature drift ramps "
    "t/(T−1)·coef with coef = Box–Muller normal(0, severity) from two "
    "md5 uniforms (u+½)/2³² (never 0, ln-safe) — the whole ramp is plain "
    "IEEE arithmetic both engines compute identically to the ulp scale "
    "the 4-dp per-window checksum absorbs.",
    tags=("R", "drift", "hash"),
)
def r_degrade_hash_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import degrade_windows_hash

    w = _windows_df(spark, sf_dir)
    deg = degrade_windows_hash(w, "matrix", "window_id", 0.4, "drift", seed=42)
    sum_cells = F.expr(
        "aggregate(flatten(matrix), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return deg.select("window_id", pround(sum_cells, 4).alias("chk"))


@register(
    "r5_global_permutation",
    oracle=None,
    doc="R5: global value permutation via double-seeded-rank join "
    "(pipelines_host/pipeline_host_importance.py:154-221) — checked by "
    "permutation invariants (count and sum preserved).",
    tags=("R5",),
)
def r5_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    perm = permute_feature_globally(ev, "value", seed=7, order_tiebreak="event_id")
    moved = F.sum((F.col("value") != F.col("orig")).cast("long"))
    joined = perm.join(
        t(spark, sf_dir, "events").select("event_id", F.col("value").alias("orig")),
        "event_id",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("value"), 2).alias("sum_after"),
        moved.alias("n_moved"),
    )


@register(
    "r5_hash_permutation",
    oracle="""
    WITH a AS (
        SELECT event_id, event_type,
               row_number() OVER (ORDER BY event_id) AS slot
        FROM events
    ),
    b AS (
        SELECT value AS pv,
               row_number() OVER (
                   ORDER BY md5('17|' || CAST(event_id AS VARCHAR)), event_id
               ) AS slot
        FROM events
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(b.pv) AS BIGINT)) AS BIGINT) AS sum_floor_perm,
           CAST(sum(CAST(floor(b.pv) AS BIGINT) * (a.event_id % 97)) AS BIGINT)
               AS pair_checksum
    FROM a JOIN b USING (slot)
    GROUP BY a.event_type
    """,
    doc="R5 hash twin, ORACLE-CHECKED end to end: global value "
    "permutation keyed by md5(seed|id) instead of seeded rand() — the "
    "permutation is a pure function of row identity, so it reproduces on "
    "any partitioning and ANY engine (operators.degrade."
    "permute_feature_hash). Both rank sides run the two-phase scan; the "
    "integer pair-checksum per event_type pins the exact row↔value "
    "re-pairing, not just the preserved multiset.",
    tags=("R5", "hash"),
)
def r5_hash_permutation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.degrade import (
        permute_feature_hash,
    )
    from cicevse2024_tfm_datapipeline_spark.sources.readers import (
        table_column_minmax,
    )

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # id_bounds from footer statistics (r12): both rank scans run in
    # fixed-bounds mode — no pinned range exchange, no quantile job; the
    # grid only sets bucket balance, never results (degrade.py comment)
    perm = permute_feature_hash(
        ev,
        "value",
        "event_id",
        seed=17,
        id_bounds=table_column_minmax(sf_dir, "events", "event_id"),
    )
    return perm.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor("value").cast("long")).cast("long").alias("sum_floor_perm"),
        F.sum(F.floor("value").cast("long") * (F.col("event_id") % 97))
        .cast("long")
        .alias("pair_checksum"),
    )


@register(
    "p6_p7_schema_profile",
    oracle="""
    SELECT 'l_quantity' AS column_name, count(DISTINCT l_quantity) AS n_distinct,
           round(avg(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_frac
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(DISTINCT l_returnflag),
           round(avg(CASE WHEN l_returnflag IS NULL THEN 1.0 ELSE 0.0 END), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', count(DISTINCT l_tax),
           round(avg(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0.0 END), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_linenumber', count(DISTINCT l_linenumber),
           round(avg(CASE WHEN l_linenumber IS NULL THEN 1.0 ELSE 0.0 END), 6)
    FROM lineitem
    """,
    doc="P6/P7: schema-narrowing metadata pass — per-column countDistinct "
    "and null-fraction in ONE scan (func_aux/func_preproc.py:570-579; "
    "SURVEY §7.4 risk 7), unpivoted to rows.",
    tags=("P6", "P7"),
)
def p6_p7_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_returnflag", "l_tax", "l_linenumber"]
    aggs = []
    for c in cols:
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        aggs.append(pround(F.avg(F.col(c).isNull().cast("double")), 6).alias(f"{c}__nf"))
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"{c}__nd").alias("n_distinct"),
                        F.col(f"{c}__nf").alias("null_frac"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.column_name", "p.n_distinct", "p.null_frac")


@register(
    "s7_metrics_lake_flatten",
    oracle="""
    SELECT * FROM (VALUES
        ('run_a', 0.91, 0.89, CAST(5 AS BIGINT), 'xgb'),
        ('run_b', 0.88, 0.86, CAST(10 AS BIGINT), 'xgb'),
        ('run_c', 0.93, 0.91, CAST(15 AS BIGINT), 'xgb')
    ) AS v(run, accuracy, f1_macro, seq_len, model)
    """,
    doc="S7/J2: recursive JSON artifact scan + metrics⋈config equi-join on "
    "run_dir + nested-struct flatten (func_aux/func_plot.py:648-697). "
    "Writes a tiny artifact lake under .scratch/ then scans it; the "
    "expected flattened rows are a static VALUES oracle (the lake "
    "contents are fixed), so the JSON-scan→join→flatten path is "
    "hash-checked, not just row-counted.",
    tags=("S7", "J2", "S6"),
)
def s7_metrics_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from cicevse2024_tfm_datapipeline_spark.sources.readers import (
        join_metrics_with_configs,
        scan_config_lake,
        scan_metrics_lake,
    )

    root = os.path.join(SCRATCH, "runs")
    for run, (acc, seq) in {"run_a": (0.91, 5), "run_b": (0.88, 10), "run_c": (0.93, 15)}.items():
        d = os.path.join(root, run)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "metrics.json"), "w") as fh:
            json.dump({"global": {"accuracy": acc, "f1_macro": acc - 0.02}}, fh)
        with open(os.path.join(d, "config.json"), "w") as fh:
            json.dump({"seq_len": seq, "model": "xgb"}, fh)
    metrics = scan_metrics_lake(spark, root)
    configs = scan_config_lake(spark, root)
    joined = join_metrics_with_configs(metrics, configs)
    return joined.select(
        F.element_at(F.split("run_dir", "/"), -1).alias("run"),
        # float-literal arithmetic (acc − 0.02) leaves 1-ulp residue in the
        # stored JSON; canonicalize to 6 dp to match the static oracle
        pround(F.col("global.accuracy"), 6).alias("accuracy"),
        pround(F.col("global.f1_macro"), 6).alias("f1_macro"),
        "seq_len",
        "model",
    ).orderBy("run")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. ALL timestamp columns
    must be DECLARED as long in the stream schema (the int64 storage type)
    and rebuilt after read — a streaming source can't re-infer, and a
    TIMESTAMP_NTZ event-time column is rejected by ``withWatermark``
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). ``timestamp_micros`` yields
    TIMESTAMP (LTZ); with the UTC session the wall-clock values equal the
    stored naive micros, matching the DuckDB oracle.

    Delivery-order guarantee: the glob matches exactly ONE parquet file,
    so the file source delivers the whole table in a single micro-batch —
    order-sensitive stateful consumers (sprt_decision_state, which
    additionally asserts the contract in its fold) see all rows at once
    and their within-batch sort is the global order. If this source ever
    grows to multiple files, they must be named/delivered in event-time
    order (maxFilesPerTrigger interacts with lexicographic listing)."""
    import pyspark.sql.types as T

    from cicevse2024_tfm_datapipeline_spark.sources.readers import _nano_ts_columns, load_table

    nano = set(_nano_ts_columns(os.path.join(sf_dir, "events.parquet")))
    schema = load_table(spark, sf_dir, "events").schema
    micro = {
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)) and f.name not in nano
    }
    fields = [
        T.StructField(f.name, T.LongType() if f.name in nano | micro else f.dataType, f.nullable)
        for f in schema.fields
    ]
    stream = (
        spark.readStream.schema(T.StructType(fields))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for c in nano:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    for c in micro:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros({c})"))
    return stream


@register(
    "stream_tumbling_avg",
    oracle="""
    WITH e AS (
        SELECT event_type, value,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS ws
        FROM events
    )
    SELECT ws AS window_start_epoch, event_type,
           round(round(sum(value), 2) / count(*), 6) AS avg_value,
           count(*) AS n_rows
    FROM e GROUP BY 1, 2
    """,
    doc="Streaming A16: tumbling event-time window aggregation with "
    "watermark, driven to completion over the parquet file source "
    "(memory sink, complete mode) — ORACLE-CHECKED against the batch SQL "
    "of the same window spec, the streaming↔batch equivalence contract "
    "(SURVEY §2.9). Epoch-second window keys avoid timestamp-format "
    "parity risk.",
    tags=("streaming", "A16"),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
        tumbling_sums_stream,
    )

    stream = _events_stream(spark, sf_dir)
    agg = tumbling_sums_stream(stream, window_sec=86400)
    out = run_to_completion(agg, "stream_tumbling_out", output_mode="complete")
    return out.select(
        "window_start_epoch",
        "event_type",
        pround(pround(F.col("sum_value"), 2) / F.col("n_rows"), 6).alias("avg_value"),
        "n_rows",
    )


@register(
    "stream_session_window",
    oracle="""
    WITH e AS (SELECT user_id, value, ts, epoch(ts) AS es FROM events),
    b AS (
        SELECT *, CASE WHEN lag(es) OVER w IS NULL
                         OR es - lag(es) OVER w >= 1800 THEN 1 ELSE 0 END AS boundary
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM b
    )
    SELECT CAST(floor(min(es)) AS BIGINT) AS session_start_epoch,
           CAST(floor(max(es)) + 1800 AS BIGINT) AS session_end_epoch,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Streaming W6: session_window(ts, 30 min) per user with watermark, "
    "complete mode — ORACLE-CHECKED against the gaps-and-islands SQL "
    "formulation (boundary at inter-event gap ≥ 30 min; session end = "
    "last event + gap), the sessionization equivalence contract "
    "(SURVEY §2.9). Epoch-second keys; 2-dp-exact sum canonicalization.",
    tags=("streaming", "W6"),
)
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
        session_window_stream,
    )

    stream = _events_stream(spark, sf_dir)
    agg = session_window_stream(stream, gap="30 minutes")
    out = run_to_completion(agg, "stream_sessions_out", output_mode="complete")
    return out.select(
        F.col("session_start").cast("long").alias("session_start_epoch"),
        F.col("session_end").cast("long").alias("session_end_epoch"),
        "user_id",
        "n_events",
        pround(F.col("sum_value"), 2).alias("sum_value"),
    )


@register(
    "stream_stateful_episodes",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS y,
               CASE WHEN value > 150.0 THEN 1 ELSE 0 END AS p
        FROM events
    ),
    b AS (
        SELECT *, CASE WHEN y = 1 AND coalesce(lag(y) OVER w, 0) <> 1
                       THEN 1 ELSE 0 END AS s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT *, sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
        FROM b
    ),
    eps AS (
        SELECT user_id, ep, max(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS det
        FROM i WHERE y = 1 GROUP BY user_id, ep
    ),
    summary AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS episodes_total,
               CAST(sum(det) AS BIGINT) AS episodes_detected
        FROM eps GROUP BY user_id
    )
    SELECT u.user_id,
           coalesce(s.episodes_total, 0) AS episodes_total,
           coalesce(s.episodes_detected, 0) AS episodes_detected
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN summary s USING (user_id)
    """,
    doc="CUSTOM STATEFUL streaming operator, ORACLE-CHECKED: per-user "
    "episode counting (contiguous charging runs, detected = any "
    "high-power event inside the run) via applyInPandasWithState with "
    "vectorized per-batch folds and carried state — semantics "
    "session_window cannot express. The last update-mode emission per "
    "user must equal the batch gaps-and-islands SQL (SURVEY §2.9).",
    tags=("streaming", "W6", "stateful"),
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
        stateful_episode_counts,
    )

    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") >= 100.0).cast("int").alias("y"),
        (F.col("value") > 150.0).cast("int").alias("p"),
    )
    counts = stateful_episode_counts(stream, "user_id", "ts", "event_id", "y", "p")
    out = run_to_completion(counts, "stream_stateful_out", output_mode="update")
    # update mode re-emits per batch; the LAST emission per user is final.
    # The single-file source yields one batch, but guard with a max-agg so
    # multi-batch replays stay correct (totals are monotone).
    return out.groupBy("user_id").agg(
        F.max("episodes_total").alias("episodes_total"),
        F.max("episodes_detected").alias("episodes_detected"),
    )


@register(
    "mm_fake_decode_features",
    oracle=None,
    doc="Multimodal decode → feature-extract over Arrow batches "
    "(operators.multimodal) on the text-bytes adapter: byte histogram + "
    "entropy per payload, aggregated.",
    tags=("multimodal", "M6"),
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = documents_as_media(docs)
    feats = extract_features(media)
    return feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        pround(F.avg("byte_entropy"), 4).alias("avg_entropy"),
        pround(F.avg("byte_mean"), 4).alias("avg_byte_mean"),
        F.sum("n_bytes").alias("total_bytes"),
    )


@register(
    "mm_decode_wav_bmp",
    oracle=None,
    doc="Multimodal REAL decode: deterministic PCM16 WAV tones and 24bpp "
    "BMP gradients generated executor-side (operators.multimodal."
    "synthetic_media), decoded by the pure-NumPy RIFF/BMP parsers, "
    "featurized over Arrow batches and aggregated per media type — the "
    "decode step is an actual byte-format roundtrip, not a stub.",
    tags=("multimodal", "M6"),
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.multimodal import synthetic_media

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = synthetic_media(docs)
    feats = extract_features(media)
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        pround(F.avg("byte_mean"), 4).alias("avg_byte_mean"),
        pround(F.avg("byte_entropy"), 4).alias("avg_entropy"),
    )


@register(
    "mm_image_ahash_dedup",
    oracle=None,
    doc="Image near-dup dedup by perceptual average-hash: BMP payloads "
    "(generated with forced repeats via id mod 120) decoded by the real "
    "NumPy parser, aHashed over Arrow batches (operators.multimodal."
    "image_ahash), then EXACT-deduped with the same hash-groupBy shape "
    "as text dedup — group-size histogram out. The image twin of "
    "dedup_exact_group_sizes: downstream of the hash column everything "
    "is plain relational algebra, so 100 TB of images dedup with one "
    "uniform shuffle on a 64-bit key. Deterministic payloads -> "
    "deterministic hashes (rows-only + rerun-stability check).",
    tags=("multimodal", "dedup"),
)
def mm_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.multimodal import (
        image_ahash,
        synthetic_media,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 600).select(
        (F.col("doc_id") % 120).alias("doc_id")
    )
    media = synthetic_media(docs)
    hashes = image_ahash(media)
    groups = hashes.groupBy("ahash").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        groups.groupBy("group_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .orderBy("group_size")
    )


@register(
    "mm_audio_spectral",
    oracle=None,
    doc="Real audio feature extraction without audio libraries: PCM16 "
    "WAV tones decoded by the NumPy RIFF parser, then rFFT spectral "
    "features (RMS, power-weighted spectral centroid, 85% rolloff) per "
    "payload over Arrow batches (operators.multimodal."
    "audio_spectral_features) — the decode→featurize edge of an audio "
    "training-data pipeline with the actual DSP math, aggregated per "
    "tone-frequency band. Payloads never leave executors; Python cost "
    "is amortized per Arrow batch (rows-only + rerun-stability check).",
    tags=("multimodal", "audio"),
)
def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.multimodal import (
        audio_spectral_features,
        synthetic_media,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    media = synthetic_media(docs)
    feats = audio_spectral_features(media)
    band = (F.col("spectral_centroid_hz") / 100).cast("long").alias("centroid_band")
    return (
        feats.select(band, "rms", "rolloff85_hz", "n_samples")
        .groupBy("centroid_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            pround(F.avg("rms"), 4).alias("avg_rms"),
            pround(F.avg("rolloff85_hz"), 2).alias("avg_rolloff_hz"),
            F.countDistinct("n_samples").cast("long").alias("n_lengths"),
        )
        .orderBy("centroid_band")
    )


@register(
    "ml_surrogate_tree",
    oracle=None,
    doc="M5: Spark-ML DecisionTree surrogate on A6 window-stats features "
    "(func_aux/func_models.py:177-273) — label distribution of the "
    "surrogate's predictions (seeded, deterministic).",
    tags=("ml", "M5"),
)
def ml_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.ml.models import fit_surrogate_tree
    from cicevse2024_tfm_datapipeline_spark.operators.windows import window_summary_stats

    pv = power_view(spark, sf_dir)
    stats = window_summary_stats(
        pv, ["attack", "state"], "ts", "event_id", ["value"], seq_len=5, step=2, label_col="label"
    )
    feature_cols = ["value_mean", "value_std", "value_min", "value_max"]
    _, preds = fit_surrogate_tree(
        stats.na.fill(0.0, ["value_std"]), feature_cols, "window_label", max_depth=3
    )
    return preds.groupBy("window_label", "prediction").agg(F.count(F.lit(1)).alias("n"))

@register(
    "stream_sliding_window",
    oracle="""
    WITH e AS (
        SELECT value,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hr
        FROM events
    ),
    cand AS (
        SELECT value, hr - k.o AS ws
        FROM e, (VALUES (0), (3600)) AS k(o)
    )
    SELECT ws AS window_start_epoch,
           round(round(sum(value), 2) / count(*), 6) AS value_mean,
           min(value) AS value_min,
           max(value) AS value_max,
           count(*) AS n_rows
    FROM cand GROUP BY 1
    """,
    doc="Streaming W3: sliding event-time windows (2h length, 1h hop) with "
    "watermark over the parquet file source, complete mode — "
    "ORACLE-CHECKED: each event belongs to exactly the two hop-aligned "
    "windows covering it (floor-hour and floor-hour − 3600), which the "
    "SQL twin materializes with a 2-row VALUES cross join (SURVEY §2.9).",
    tags=("streaming", "W3"),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
        sliding_sums_stream,
    )

    stream = _events_stream(spark, sf_dir)
    agg = sliding_sums_stream(stream, length_sec=7200, hop_sec=3600)
    out = run_to_completion(agg, "stream_sliding_out", output_mode="complete")
    return out.select(
        "window_start_epoch",
        pround(pround(F.col("sum_value"), 2) / F.col("n_rows"), 6).alias("value_mean"),
        "value_min",
        "value_max",
        "n_rows",
    )


@register(
    "stream_dedup_union",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Streaming exact dedup (dropDuplicatesWithinWatermark): the same "
    "file source is read as TWO streams and unioned — every event arrives "
    "twice — then deduped on event_id with watermark-bounded state; the "
    "drained per-type aggregates must equal the batch aggregates over the "
    "ORIGINAL (single-copy) table, which is the oracle. State is evicted "
    "past the lateness horizon — the unbounded-stream counterpart of the "
    "digest-groupBy batch dedup (SURVEY §2.9).",
    tags=("streaming", "dedup"),
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        dedup_stream,
        run_to_completion,
    )

    doubled = _events_stream(spark, sf_dir).union(_events_stream(spark, sf_dir))
    dd = dedup_stream(doubled, ["event_id"], watermark="1 day")
    out = run_to_completion(
        dd.select("event_id", "event_type", "value"), "stream_dedup_out", "append"
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT CASE WHEN lower(trim(event_type)) IN ('view', 'click')
                THEN 'benign' ELSE 'attack' END AS category,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Stream-static enrichment join: a broadcast dimension table "
    "(event_type → category) joins every micro-batch with no stream-side "
    "shuffle and no state — the standard streaming lookup join. Drained "
    "per-category aggregates equal the batch SQL twin (SURVEY §2.9).",
    tags=("streaming", "J1"),
)
def stream_static_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        enrich_stream_with_dim,
        run_to_completion,
    )

    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    dim = literal_df(
        spark,
        [("view", "benign"), ("click", "benign"), ("error", "attack"),
         ("purchase", "attack"), ("signup", "attack")],
        schema="event_type string, category string",
    )
    stream = _events_stream(spark, sf_dir)
    joined = enrich_stream_with_dim(stream, dim, "event_type")
    agg = (
        joined.withWatermark("ts", "1 day")
        .groupBy("category")
        .agg(F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, "stream_static_join_out", output_mode="complete")
    return out.select(
        "category",
        F.col("n_events").cast("long").alias("n_events"),
        pround(F.col("sum_value"), 2).alias("sum_value"),
    )


@register(
    "stream_append_late_drop",
    oracle="""
    WITH early_even AS (
        SELECT ts, event_type, value FROM events
        WHERE ts < TIMESTAMP '2024-01-26 00:00:00' AND user_id % 2 = 0
    ),
    fresh AS (
        SELECT ts, event_type, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-26 00:00:00'
    ),
    late_odd AS (
        SELECT ts, event_type, value FROM events
        WHERE ts < TIMESTAMP '2024-01-26 00:00:00' AND user_id % 2 = 1
    ),
    wm2 AS (SELECT max(epoch_us(ts)) AS w FROM early_even),
    late_kept AS (
        SELECT l.* FROM late_odd l, wm2
        WHERE (floor(epoch_us(l.ts) / 86400000000) + 1) * 86400000000 > wm2.w
    ),
    kept AS (SELECT * FROM early_even UNION ALL SELECT * FROM fresh
             UNION ALL SELECT * FROM late_kept),
    wmf AS (SELECT max(epoch_us(ts)) AS wmf FROM events),
    agg AS (
        SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) * 86400
                   AS window_start_epoch,
               event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(value), 2) AS sum_value
        FROM kept GROUP BY 1, 2
    )
    SELECT window_start_epoch, event_type, n_rows, sum_value
    FROM agg, wmf
    WHERE (window_start_epoch + 86400) * 1000000 <= wmf
    """,
    doc="Append-mode late-data loss, fully predicted in SQL. The events "
    "table is re-fed as THREE mtime-ordered files "
    "(maxFilesPerTrigger=1): early even-user rows, then the fresh tail "
    "(last days), then the early ODD-user rows arriving behind the "
    "watermark. Verified engine mechanics, encoded 1:1 in the oracle: "
    "a late row is DROPPED iff its window was already evicted, and "
    "eviction at the end of batch N uses the watermark from batch "
    "N-1's data — so the late file loses every window whose end is <= "
    "max ts of the early file (evicted when the fresh batch closed) "
    "but its LAST early window (end past that watermark) is still "
    "open in state and merges. Emission = day windows whose end is "
    "<= the final watermark; the still-open last window is withheld. "
    "Windows are midnight-aligned while watermarks carry microseconds, "
    "so no eviction/emission boundary ever ties.",
    tags=("streaming", "watermark", "late-data"),
)
def stream_append_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil

    import pyspark.sql.types as T

    from cicevse2024_tfm_datapipeline_spark.sources.readers import load_table
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
    )

    feed = os.path.join(SCRATCH, "events_latefeed")
    shutil.rmtree(feed, ignore_errors=True)
    os.makedirs(feed, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "event_type", "value")
    # wall-clock literal cast to the column's own type: works whether the
    # session loads ts as TIMESTAMP (repo session, UTC) or TIMESTAMP_NTZ
    # (bare driver session) — both read the same naive micros
    cut = F.lit("2024-01-26 00:00:00").cast(ev.schema["ts"].dataType)
    feeds = [
        ("early_even", (F.col("ts") < cut) & (F.col("user_id") % 2 == 0)),
        ("fresh", F.col("ts") >= cut),
        ("late_odd", (F.col("ts") < cut) & (F.col("user_id") % 2 == 1)),
    ]
    for i, (tag, pred) in enumerate(feeds):
        tmp = os.path.join(feed, f"__tmp_{tag}")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(feed, f"{i:02d}_{tag}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        # pin the batch order: the file source lists by modification time
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
        .withColumn("ts", F.expr("timestamp_micros(ts)"))
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "86400 seconds"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )
    out = run_to_completion(agg, "stream_late_drop_out", output_mode="append")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_epoch"),
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        pround(F.col("sum_value"), 2).alias("sum_value"),
    )


@register(
    "s4_csv_sink_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           round(sum(value), 2) AS sum_value,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events WHERE event_id < 200
    """,
    doc="S4 CSV SINK roundtrip, ORACLE-CHECKED: a deterministic events "
    "slice goes out through df.write.csv (quoting/precision formatting) "
    "and back in through the CSV reader with an explicit schema; the "
    "aggregates must equal the oracle computed straight from the parquet "
    "table — verifying the WRITER path, the complement of the "
    "s1_s3_csv_roundtrip reader check. Doubles survive because Spark "
    "writes round-trippable representations.",
    tags=("S4",),
)
def s4_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(SCRATCH, "csv_sink")
    src = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", "event_type", "value")
    )
    src.coalesce(1).write.mode("overwrite").csv(path, header=True)
    back = spark.read.schema("event_id long, event_type string, value double").csv(
        path, header=True
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        pround(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "s5_tensor_sink_roundtrip",
    oracle=f"""
    WITH base AS ({POWER_BASE_SQL}),
    {_WINS_SQL}
    SELECT CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(window_id) AS BIGINT) AS sum_ids,
           round(sum(list_sum(flatten(m))), 2) AS sum_cells
    FROM wins
    """,
    doc="S5 tensor sink roundtrip, ORACLE-CHECKED: the window matrices "
    "(array<array<double>> — the engine's tensor shape for sequence "
    "models) are written to parquet and read back; window count, id sum "
    "and the total cell sum must equal the oracle's recomputation of the "
    "same matrices from the raw table. Verifies the nested-array "
    "parquet writer/reader path the reference covers with .npy dumps.",
    tags=("S5",),
)
def s5_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(SCRATCH, "tensor_sink")
    _windows_df(spark, sf_dir).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    cells = F.expr("aggregate(flatten(matrix), cast(0.0 as double), (acc, x) -> acc + x)")
    return back.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("window_id").cast("long").alias("sum_ids"),
        pround(F.sum(cells), 2).alias("sum_cells"),
    )


@register(
    "f15_proba_pair",
    oracle="""
    WITH p AS (
        SELECT event_id, round(value / 400.0, 3) AS pr FROM events WHERE event_id < 500
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(1.0 - pr), 6) AS sum_p0,
           round(sum(pr), 6) AS sum_p1,
           round(min(1.0 - pr + pr), 6) AS min_pair_sum,
           round(max(1.0 - pr + pr), 6) AS max_pair_sum
    FROM p
    """,
    doc="F15: single probability column → [1-p, p] pair array "
    "(pipeline_tests_power.py:76-84) — the binary-head output adapter. "
    "Checked via element sums and the pair-sum invariant (=1) over a "
    "deterministic slice.",
    tags=("F15",),
)
def f15_proba_pair_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.functions.scalars import proba_pair_expr

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    pair = proba_pair_expr(pround(F.col("value") / 400.0, 3))
    rows = ev.select(pair.alias("pp"))
    return rows.agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum(F.element_at("pp", 1)), 6).alias("sum_p0"),
        pround(F.sum(F.element_at("pp", 2)), 6).alias("sum_p1"),
        pround(F.min(F.element_at("pp", 1) + F.element_at("pp", 2)), 6).alias("min_pair_sum"),
        pround(F.max(F.element_at("pp", 1) + F.element_at("pp", 2)), 6).alias("max_pair_sum"),
    )


@register(
    "m8_sample_size_grid",
    oracle="""
    WITH grid(fpr_max, alpha) AS (
        VALUES (0.01, 0.05), (0.001, 0.05), (0.01, 0.01), (0.0001, 0.05)
    )
    SELECT fpr_max, alpha,
           CAST(ceil(ln(1.0 / alpha) / fpr_max) AS BIGINT) AS n_benign_required,
           CAST(ceil(ln(1.0 / alpha) / (36.0 * 1.0 / 3600.0)) AS BIGINT)
               AS n_for_36fph_1s_hop
    FROM grid
    """,
    doc="M8: sample-size calculators (ml/models.n_required_for_fpr/"
    "n_required_for_fph — zero-FP Clopper-Pearson inversion "
    "n = ceil(ln(1/alpha)/fpr_max)) evaluated over a parameter grid; "
    "the oracle recomputes the closed form, so the driver-side math is "
    "hash-checked, not just pytested. Driver-side scalar math lifted "
    "into a VALUES plan — no data scan at all.",
    tags=("M8",),
)
def m8_sample_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.ml.models import (
        n_required_for_fph,
        n_required_for_fpr,
    )

    grid = [(0.01, 0.05), (0.001, 0.05), (0.01, 0.01), (0.0001, 0.05)]
    rows = [
        (
            fpr,
            alpha,
            n_required_for_fpr(fpr, alpha),
            n_required_for_fph(36.0, 1.0, alpha),
        )
        for fpr, alpha in grid
    ]
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    return literal_df(
        spark,
        rows,
        schema="fpr_max double, alpha double, n_benign_required long, n_for_36fph_1s_hop long",
    )


#: P8/P9 fixture: filenames carry the EVSE token; src_ip/flow_id are
#: blocklisted identifier columns the scan must drop before modeling
_NET2_FILES = {
    "cap-B-syn-flood.csv": [(3, "10.0.0.1"), (5, "10.0.0.2"), (7, "10.0.0.1")],
    "cap-A-benign-idle.csv": [(11, "10.0.0.3"), (13, "10.0.0.4")],
}


@register(
    "p8_p9_network_narrowing",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_cols_scanned,
           CAST(2 AS BIGINT) AS n_cols_kept,
           CAST(3 AS BIGINT) AS n_rows_evse_b,
           CAST(15 AS BIGINT) AS sum_pkts_evse_b
    """,
    doc="P8 + P9 on the network scan, ORACLE-CHECKED: blocklisted "
    "identifier columns (src_ip, flow_id — leakage features the "
    "reference drops, pipeline_trainingmodels_network.py) are removed by "
    "pattern (operators.narrowing.drop_blocklisted), and the EVSE "
    "partition filter (filename-derived evse == 'B') keeps only that "
    "station's rows. The oracle pins the expected column/row accounting "
    "from the literal fixture. Both are scan-stage prunes at 100 TB: "
    "column drop = projection, EVSE filter = partition/file pruning.",
    tags=("P8", "P9", "S3"),
)
def p8_p9_network_narrowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.operators.narrowing import drop_blocklisted
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_network_dir

    net_dir = os.path.join(SCRATCH, "net2")
    os.makedirs(net_dir, exist_ok=True)
    for fname, rows_ in _NET2_FILES.items():
        with open(os.path.join(net_dir, fname), "w") as fh:
            fh.write("pkts,src_ip,flow_id\n")
            for i, (p, ip) in enumerate(rows_):
                fh.write(f"{p},{ip},{fname[:5]}{i}\n")

    scanned = scan_network_dir(spark, os.path.join(net_dir, "*.csv"))
    data_cols = [
        c for c in scanned.columns if c not in ("source_file", "label_mul_raw", "evse")
    ]
    kept = drop_blocklisted(scanned.select(*data_cols, "evse"))
    filtered = kept.filter(F.col("evse") == "B")
    n_kept_cols = len([c for c in kept.columns if c != "evse"])
    return filtered.agg(
        F.lit(len(data_cols)).cast("long").alias("n_cols_scanned"),
        F.lit(n_kept_cols + 1).cast("long").alias("n_cols_kept"),
        F.count(F.lit(1)).alias("n_rows_evse_b"),
        F.sum("pkts").cast("long").alias("sum_pkts_evse_b"),
    )


@register(
    "f14_json_sanitize_roundtrip",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_runs,
           CAST(2 AS BIGINT) AS n_null_f1,
           round(0.91 + 0.88, 2) AS sum_acc_non_null
    """,
    doc="F14 + S6, ORACLE-CHECKED: metrics dicts containing NaN/Inf go "
    "through the JSON artifact sink (pipelines._dump_json — NaN/Inf → "
    "null, func_aux/func_preproc.py:481-534) and come back through the "
    "recursive lake scan; the nulls must survive as SQL NULLs and the "
    "finite values unchanged — pinned by a literal oracle.",
    tags=("F14", "S6", "S7"),
)
def f14_sanitize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json  # noqa: F401

    from cicevse2024_tfm_datapipeline_spark.pipelines import _dump_json
    from cicevse2024_tfm_datapipeline_spark.sources.readers import scan_metrics_lake

    root = os.path.join(SCRATCH, "nan_runs")
    fixtures = {
        "run_x": {"accuracy": 0.91, "f1_macro": float("nan")},
        "run_y": {"accuracy": 0.88, "f1_macro": float("inf")},
        "run_z": {"accuracy": float("nan"), "f1_macro": 0.75},
    }
    for run, g in fixtures.items():
        d = os.path.join(root, run)
        os.makedirs(d, exist_ok=True)
        _dump_json(os.path.join(d, "metrics.json"), {"global": g})
    metrics = scan_metrics_lake(spark, root)
    return metrics.agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.col("global.f1_macro").isNull().cast("long")).alias("n_null_f1"),
        pround(F.sum("global.accuracy"), 2).alias("sum_acc_non_null"),
    )


@register(
    "stream_sink_partitioned_lake",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming FILE SINK roundtrip: the events stream written with "
    "writeStream.partitionBy(event_type) into a Hive-partitioned parquet "
    "lake under an exactly-once checkpoint (availableNow trigger), then "
    "read back batch-side and aggregated — the persistent-sink "
    "complement of the memory-sink streaming queries, and the shape of "
    "a production bronze-layer ingest. Oracle is the batch aggregation "
    "over the same source, so any loss/duplication in the sink path "
    "breaks the hash.",
    tags=("streaming", "S", "sink"),
)
def stream_sink_partitioned_lake_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out = os.path.join(SCRATCH, "stream_lake")
    chk = os.path.join(SCRATCH, "stream_lake_chk")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)
    stream = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .partitionBy("event_type")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "stream_upsert_scd1",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
    FROM latest WHERE rn = 1
    GROUP BY event_type
    """,
    doc="Streaming SCD1 UPSERT sink (streaming/stream_ops.upsert_scd1_sink): "
    "the events stream, split into 3 micro-batches (maxFilesPerTrigger), "
    "foreachBatch-MERGEs into a keyed parquet lake keeping the latest row "
    "per user — MERGE INTO semantics from plain parquet plus an atomic "
    "directory swap, under an exactly-once checkpoint. Per-batch cost is "
    "batch + |keys|, never history; the merge result is independent of "
    "batch boundaries, so the batch latest-per-key oracle pins "
    "loss/duplication/ordering bugs across ALL batches.",
    tags=("streaming", "sink", "scd1"),
)
def stream_upsert_scd1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    import pyspark.sql.types as T

    from cicevse2024_tfm_datapipeline_spark.sources.readers import load_table
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        upsert_scd1_sink,
    )

    src = os.path.join(SCRATCH, "upsert_src")
    lake = os.path.join(SCRATCH, "upsert_lake")
    chk = os.path.join(SCRATCH, "upsert_chk")
    for d in (src, lake, chk):
        shutil.rmtree(d, ignore_errors=True)

    # 3-file split with ts as exact integer micros → 3 micro-batches
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    ev.repartition(3).write.mode("overwrite").parquet(src)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = upsert_scd1_sink(stream, lake, chk, ["user_id"], ["ts_us", "event_id"])
    q.processAllAvailable()
    q.stop()

    back = spark.read.parquet(lake)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.sum(F.floor("value").cast("long")).cast("long").alias("sum_floor_value"),
    )


@register(
    "s13_jsonl_sink_roundtrip",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents WHERE doc_id < 300
    GROUP BY lang
    """,
    doc="S13 JSONL sink+source roundtrip, ORACLE-CHECKED: a documents "
    "slice goes out through df.write.json (one JSON object per line, "
    "with a NESTED meta struct exercising object encoding) and back in "
    "through spark.read.json with SCHEMA INFERENCE — no schema hint, the "
    "reader must rediscover types and the nested shape from the data. "
    "Aggregates over the inferred nested fields must equal the oracle "
    "computed straight from parquet. JSONL is the lingua franca of "
    "LLM-corpus interchange; at scale the read is a parallel line-split "
    "scan and inference samples files, both standard.",
    tags=("S13", "jsonl", "source", "sink"),
)
def s13_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(SCRATCH, "jsonl_sink")
    src = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            "text",
            F.struct(
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
                F.col("n_chars").alias("n_chars"),
            ).alias("meta"),
        )
    )
    src.coalesce(2).write.mode("overwrite").json(path)
    back = spark.read.json(path)
    return back.groupBy(F.col("meta.lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("meta.n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("meta.source").cast("long").alias("n_sources"),
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT v.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(v.event_id + c.event_id) AS BIGINT) AS id_checksum,
           CAST(sum(epoch_us(c.ts) - epoch_us(v.ts)) AS BIGINT) AS sum_lag_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
    doc="STREAM-STREAM event-time interval join (view->click attribution "
    "within 1 hour), the remaining core Structured Streaming join shape: "
    "both sides are independent file-source streams with watermarks, the "
    "join carries an equality key (user) plus the event-time range bound "
    "that lets the state store evict matched/expired rows — unbounded "
    "state otherwise. Inner join in append mode over the finite input "
    "emits exactly the batch join result; checked against the batch SQL "
    "twin per user with microsecond-exact lag sums. Scale: state is "
    "bounded by watermark horizon x arrival rate per side; the join "
    "shuffles both streams on user_id like any stateful op.",
    tags=("streaming", "J", "interval"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
    )

    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "1 day")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "1 day")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        F.col("v_id"),
        F.col("c_id"),
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )
    # a stream-stream join runs TWO state stores per partition per
    # micro-batch; at smoke scale 32 near-empty state tasks per store
    # dominate wall time (measured 10s @ 32 vs 2.8s @ 8 on sf0.1) —
    # production sizes this by throughput
    out = run_to_completion(
        joined, "stream_ss_join_out", output_mode="append", shuffle_partitions=8
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("v_id") + F.col("c_id")).cast("long").alias("id_checksum"),
        F.sum("lag_us").cast("long").alias("sum_lag_us"),
    )


@register(
    "f_variant_semistructured",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS min_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json lifts the "
    "props JSON column into the binary VARIANT encoding once, then typed "
    "variant_get extractions drive the aggregates — the schema-on-read "
    "pattern for ragged event payloads at scale (shredded binary access, "
    "no per-row string re-parsing per extracted field, unlike repeated "
    "get_json_object calls). Checked against DuckDB json_extract on the "
    "same column.",
    tags=("F", "variant", "semistructured"),
)
def f_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("sum_k"),
        F.sum((F.col("k") > 50).cast("long")).cast("long").alias("n_big"),
        F.min("k").cast("long").alias("min_k"),
    )


@register(
    "s14_custom_datasource",
    oracle="""
    WITH g AS (
        SELECT CAST(r.range AS BIGINT) AS id,
               (CAST(r.range AS BIGINT) * CAST(r.range AS BIGINT)) % 997 AS val,
               CAST(CAST(r.range AS BIGINT) % 7 AS INT) AS grp
        FROM range(0, 5000) r
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(val) AS BIGINT) AS sum_val,
           CAST(sum(id) AS BIGINT) AS sum_ids
    FROM g
    GROUP BY grp
    """,
    doc="S14: CUSTOM PYTHON DATA SOURCE (Spark 4 pyspark.sql.datasource "
    "API) — sources/readers.register_synthetic_datasource plugs a "
    "deterministic partition-parallel generator into the DataFrame layer "
    "as format('synthgen'); 8 InputPartitions each yield a closed-form "
    "slice, so the scan parallelizes like any file source and the result "
    "is engine-checkable against the same closed form in SQL. This is "
    "the template for non-file systems (internal services, bespoke "
    "formats) entering the engine.",
    tags=("S14", "source", "datasource"),
)
def s14_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.sources.readers import (
        register_synthetic_datasource,
    )

    register_synthetic_datasource(spark)
    df = spark.read.format("synthgen").option("rows", "5000").option("parts", "8").load()
    return df.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val").cast("long").alias("sum_val"),
        F.sum("id").cast("long").alias("sum_ids"),
    )


@register(
    "text_udtf_chunks",
    oracle=None,
    doc="Python UDTF (Spark 4 @udtf) chunker driven through SQL LATERAL: "
    "one input document row fans out to overlapping chunk rows (stride "
    "150, length 200 — same spec as the relational text_overlap_chunks, "
    "which remains the scale path; the UDTF is the extension-API "
    "demonstration and the escape hatch for chunkers real tokenizers "
    "implement in Python). Rows-only by design: a UDTF executes as "
    "BatchEvalPythonUDTF, which the no-row-wise-Python contract bans "
    "from oracle-checked plans; the pytest differential "
    "(test_windows::test_udtf_chunks_match_relational) pins it to the "
    "relational twin element-exactly.",
    tags=("text", "udtf", "chunking"),
)
def text_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string")
    class _ChunkUdtf:
        def eval(self, text: str, size: int, stride: int):
            if text is None:
                return
            n = len(text)
            idx = 0
            start = 0
            while True:
                yield (idx, text[start : start + size])
                idx += 1
                start += stride
                if start >= n:
                    break

    spark.udtf.register("chunk_udtf", _ChunkUdtf)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        "doc_id", "text"
    ).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(length(c.chunk)) AS BIGINT) AS sum_chunk_chars,
               CAST(max(c.chunk_idx) AS INT) AS last_idx
        FROM udtf_docs d, LATERAL chunk_udtf(d.text, 200, 150) c
        GROUP BY d.doc_id
        """
    )


@register(
    "s15_orc_sink_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_keys,
           round(sum(l_extendedprice), 2) AS sum_price,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status
    FROM lineitem WHERE l_orderkey < 3000
    GROUP BY l_returnflag
    """,
    doc="S15 ORC sink+source roundtrip, ORACLE-CHECKED: a lineitem slice "
    "goes out through df.write.orc (Spark's second columnar format — "
    "dictionary/RLE encodings, predicate-pushdown-capable stripes) and "
    "back through spark.read.orc; aggregates must equal the oracle "
    "computed straight from parquet. Exercises the full type surface "
    "(long, double, string, timestamp) across the ORC writer/reader "
    "boundary.",
    tags=("S15", "orc", "source", "sink"),
)
def s15_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(SCRATCH, "orc_sink")
    src = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    src.coalesce(2).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_keys"),
        pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.countDistinct("l_linestatus").cast("long").alias("n_status"),
    )


@register(
    "s16_binaryfile_scan",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(strlen(text) + 1) AS BIGINT) AS total_bytes,
           CAST(sum(CAST(('0x' || substr(md5(text || chr(10)), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_checksum
    FROM documents WHERE doc_id < 100
    """,
    doc="S16 binaryFile ingestion roundtrip, ORACLE-CHECKED: documents "
    "go out as ONE FILE PER DOC (partitionBy(doc_id) text write — the "
    "line-sink appends one newline per row), then come back through "
    "spark.read.format('binaryFile') with recursiveFileLookup — the "
    "opaque-bytes ingest path every multimodal pipeline starts from. "
    "The doc id is recovered from the partition directory in the file "
    "PATH, and the md5-of-bytes checksum plus byte length must equal "
    "the oracle's text-derived values (UTF-8 bytes + the trailing "
    "newline) — proving content survives the filesystem roundtrip "
    "bit-exactly. At scale binaryFile scans parallelize per file and "
    "push pathGlobFilter; tiny-file overhead is the known cost, which "
    "is why s12 training shards exist for the hot path.",
    tags=("S16", "binary", "source", "multimodal"),
)
def s16_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(SCRATCH, "binfiles")
    src = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    src.repartition(4).write.mode("overwrite").partitionBy("doc_id").text(path)
    back = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "false")
        .option("pathGlobFilter", "*.txt")
        .load(path + "/doc_id=*")
    )
    doc_id = F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1).cast("long")
    checksum = F.conv(F.substring(F.md5(F.col("content")), 1, 8), 16, 10).cast("long")
    return back.select(
        doc_id.alias("doc_id"),
        F.length("content").alias("nbytes"),
        checksum.alias("ck"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("nbytes").cast("long").alias("total_bytes"),
        F.sum("ck").cast("long").alias("content_checksum"),
    )


@register(
    "stream_sprt_decisions",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN 693147 ELSE -287682 END AS llr
        FROM events
    ),
    cum AS (
        SELECT user_id,
               row_number() OVER w AS rn,
               CAST(sum(llr) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(CASE WHEN c >= 2944439 OR c <= -2944439
                             THEN rn END) AS BIGINT) AS first_cross
        FROM cum GROUP BY 1
    ),
    crossed AS (
        SELECT p.user_id, p.n_events, p.first_cross,
               c.c AS llr_at_decision
        FROM per_user p
        LEFT JOIN cum c ON c.user_id = p.user_id AND c.rn = p.first_cross
    )
    SELECT c.user_id, c.n_events,
           CASE WHEN c.first_cross IS NULL THEN 'undecided'
                WHEN c.llr_at_decision >= 2944439 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           coalesce(c.first_cross, CAST(0 AS BIGINT)) AS n_to_decision,
           coalesce(CAST(c.llr_at_decision AS BIGINT), CAST(0 AS BIGINT))
               AS llr_ticks_at_decision
    FROM crossed c
    """,
    doc="CUSTOM STATEFUL streaming operator, ORACLE-CHECKED: the SPRT "
    "early-stopping monitor (a_sprt_boundary_crossing's streaming twin) "
    "as applyInPandasWithState — per-user integer-tick cumulative LLR "
    "with a sticky first Wald-boundary crossing carried in state, "
    "vectorized NumPy folds per micro-batch, update-mode emissions whose "
    "last row per user must hash-match the batch windowed-cumsum SQL. "
    "The experimentation monitor that stops arms EARLY while events are "
    "still arriving — the whole point of running it as a stream.",
    tags=("streaming", "stateful", "stats"),
)
def stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cicevse2024_tfm_datapipeline_spark.streaming.stream_ops import (
        run_to_completion,
        sprt_decision_state,
    )

    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(693147))
        .otherwise(F.lit(-287682))
        .cast("long")
        .alias("llr"),
    )
    dec = sprt_decision_state(
        stream, "user_id", "ts", "event_id", "llr", 2944439, -2944439
    )
    out = run_to_completion(dec, "stream_sprt_out", output_mode="update")
    # update mode re-emits per batch; n_events is monotone, so the row
    # with the max n_events per user is the final state.
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("decision_code", "n_events").alias("dc"),
        F.max_by("n_to_decision", "n_events").alias("n_to_decision"),
        F.max_by("llr_at", "n_events").alias("llr_ticks_at_decision"),
    )
    return final.select(
        "user_id",
        "n_events",
        F.when(F.col("dc") == 0, F.lit("undecided"))
        .when(F.col("dc") == 1, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        "n_to_decision",
        "llr_ticks_at_decision",
    )
