"""Random-plan fuzz for plans/reflect.py: every generated DataFrame
plan must either round-trip to an equivalent query or raise
Unreflectable — never analyze cleanly into a DIFFERENT query. This is
the module's core contract (reflect.rs:16's reflect-as-consistency-
oracle role), and the two round-6 ADVICE defects (filter hoisting
across outer-join boundaries, pruning-project exposure) were exactly
plans a generator like this reaches: filters over nested joins on the
null-supplying side, column-pruning projects between joins.

Seeded random.Random (not hypothesis): the plan space needs stateful
schema bookkeeping (which join keys survive projection) that maps
poorly to strategies, and fixed seeds keep the corpus reproducible.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from xngin_spark.plans.reflect import Unreflectable, roundtrip_equivalent

pytestmark = pytest.mark.slow

N_SEEDS = 40
JOINS = ["inner", "left", "right", "full", "left_semi", "left_anti"]


def _tables(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return nation, region, customer


def _unary(rng: random.Random, df, numeric, strings):
    """0-3 random unary ops; returns (df, numeric, strings) with the
    surviving column bookkeeping."""
    for _ in range(rng.randint(0, 3)):
        op = rng.choice(["filter_num", "filter_str", "project", "distinct", "sort"])
        cols = df.columns
        if op == "filter_num":
            alive = [c for c in numeric if c in cols]
            if alive:
                c = rng.choice(alive)
                df = df.filter(F.col(c) > F.lit(rng.randint(0, 10)))
        elif op == "filter_str":
            alive = [c for c in strings if c in cols]
            if alive:
                c = rng.choice(alive)
                df = df.filter(F.col(c) != F.lit("ZZZ"))
        elif op == "project" and len(cols) > 1:
            keep = rng.sample(cols, rng.randint(1, len(cols)))
            df = df.select(*sorted(keep, key=cols.index))
        elif op == "distinct" and len(df.columns) <= 3:
            df = df.distinct()
        elif op == "sort":
            df = df.orderBy(rng.choice(df.columns))
    return df


def _build(rng: random.Random, spark, sf_dir):
    nation, region, customer = _tables(spark, sf_dir)
    numeric = ["n_nationkey", "n_regionkey", "r_regionkey", "c_custkey",
               "c_nationkey", "c_acctbal"]
    strings = ["n_name", "r_name"]

    nr = None
    if rng.random() < 0.8:
        n = _unary(rng, nation, numeric, strings)
        r = _unary(rng, region, numeric, strings)
        if "n_regionkey" in n.columns and "r_regionkey" in r.columns:
            nr = n.join(
                r,
                F.col("n_regionkey") == F.col("r_regionkey"),
                rng.choice(JOINS),
            )
            nr = _unary(rng, nr, numeric, strings)
    side = nr if nr is not None else _unary(rng, nation, numeric, strings)

    if rng.random() < 0.7 and "n_nationkey" in side.columns:
        c = _unary(rng, customer, numeric, strings)
        if "c_nationkey" in c.columns:
            how = rng.choice(JOINS)
            # customer JOIN (nation JOIN region): the nested-right
            # shape the round-6 hoisting defect lived in
            if rng.random() < 0.5:
                side = c.join(
                    side, F.col("c_nationkey") == F.col("n_nationkey"), how
                )
            else:
                side = side.join(
                    c, F.col("n_nationkey") == F.col("c_nationkey"), how
                )
            side = _unary(rng, side, numeric, strings)

    if rng.random() < 0.3:
        keys = [c for c in side.columns if c in ("n_regionkey", "r_name", "n_name")]
        nums = [c for c in side.columns if c in ("c_acctbal", "n_nationkey")]
        if keys and nums:
            side = side.groupBy(*keys[:1]).agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(nums[0]).alias("s"),
            )
    return side


_REFLECTED = []


@pytest.mark.parametrize("seed", range(N_SEEDS))
def test_random_plan_roundtrips_or_raises(seed, spark, sf_dir):
    df = _build(random.Random(seed), spark, sf_dir)
    try:
        ok = roundtrip_equivalent(df)
    except Unreflectable:
        return  # refusing is allowed; lying is not
    _REFLECTED.append(seed)
    assert ok, f"seed {seed}: reflected SQL analyzed but returned different results"


def test_fuzz_is_not_vacuous():
    # the contract test is meaningless if every seed bails Unreflectable
    assert len(_REFLECTED) >= N_SEEDS // 2, (
        f"only {len(_REFLECTED)}/{N_SEEDS} seeds produced reflectable plans"
    )
