"""Scalar / derived-column layer (SURVEY §2.3, F1-F15).

Everything here is a pure Column expression — JVM-side, codegen'd, no
Python in the hot path. Dict recodes become CASE chains (small maps) or
broadcast lookup joins (large maps, see functions.encoders).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: benign-like Attack spellings (func_aux/func_preproc.py:104-112, :54)
BENIGN_LIKE = ("0", "none", "benign", "none (ie. benign)")

#: attack-name → scenario-group recode (func_aux/func_preproc.py:48-94).
#: Fall-through: unknown names map to themselves.
ATTACK_GROUPS: dict[str, tuple[str, ...]] = {
    "none": BENIGN_LIKE,
    "host-attack": ("backdoor", "cryptojacking"),
    "recon": (
        "aggressive-scan",
        "os-fingerpriting",
        "os-fingerprinting",
        "os-scan",
        "service-version-detection",
        "service-detection",
        "serice-detection",
        "service-detection-scan",
        "tcp-port-scan",
        "port-scan",
        "vuln-scan",
        "vulnerability-scan",
    ),
    "DoS": (
        "icmp-flood",
        "icmp-fragmentation",
        "icmp-fragmentation_old",
        "pshack-flood",
        "push-ack-flood",
        "syn-flood",
        "syn-stealth",
        "syn-stealth-scan",
        "tcp-flood",
        "upd-flood",
        "udp-flood",
        "synonymousip-flood",
        "synonymous-ip-flood",
        "slowloris-scan",
    ),
}


def norm_str(c: Column | str) -> Column:
    """F5: strip + lowercase normalization before comparisons."""
    return F.lower(F.trim(F.col(c) if isinstance(c, str) else c))


def safe_double(c: Column | str) -> Column:
    """F2: pandas ``to_numeric(errors='coerce')`` ≡ try_cast → null."""
    return (F.col(c) if isinstance(c, str) else c).try_cast("double")


def charging_flag_expr(state: Column | str) -> Column:
    """F3: state_bin 0/1 flag (func_preproc.py:134)."""
    col = F.col(state) if isinstance(state, str) else state
    return (col == F.lit("charging")).cast("int")


def binary_label_expr(attack: Column | str, benign_like: tuple[str, ...] = BENIGN_LIKE) -> Column:
    """F4: benign/attack binary label (func_preproc.py:104-112)."""
    a = norm_str(attack)
    return F.when(a.isin(*benign_like), F.lit("benign")).otherwise(F.lit("attack"))


def attack_group_expr(attack: Column | str, groups: dict[str, tuple[str, ...]] = ATTACK_GROUPS) -> Column:
    """F6: small dict recode as a CASE chain with identity fall-through.

    A CASE chain is constant-folded by Catalyst and runs inside
    whole-stage codegen — strictly cheaper than a join for a ~30-entry map.
    """
    raw = F.col(attack) if isinstance(attack, str) else attack
    a = norm_str(raw)
    expr: Column | None = None
    for group, members in groups.items():
        cond = a.isin(*members)
        expr = F.when(cond, F.lit(group)) if expr is None else expr.when(cond, F.lit(group))
    assert expr is not None
    return expr.otherwise(raw)


def proba_pair_expr(p: Column | str) -> Column:
    """F15: 1-col probability → [1-p, p] array (pipeline_tests_power.py:76-84)."""
    col = F.col(p) if isinstance(p, str) else p
    return F.array(F.lit(1.0) - col, col)
