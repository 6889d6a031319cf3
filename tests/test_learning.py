"""operators.learning — integer batch perceptron: hand-computed trajectory,
no-op rounds after separation, truncating-division semantics on negative
gradients, and bit-identity under repartitioning (the house determinism
contract every iterative-numeric operator carries)."""

from __future__ import annotations

from milan_spark.operators.learning import (
    _trunc_div,
    perceptron_margins,
    perceptron_train,
)


def _feats(spark, rows):
    return spark.createDataFrame(rows, "id long, x long, y long")


def test_trunc_div_matches_sql_semantics():
    # SQL: (g - g % m)/m with % sign following the dividend = trunc toward 0
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # Python's -7 // 2 would be -4
    assert _trunc_div(6, 3) == 2
    assert _trunc_div(-6, 3) == -2
    assert _trunc_div(0, 5) == 0


def test_hand_computed_trajectory(spark):
    # two points: (x=2, y=+1), (x=1, y=-1), bias learns the split
    # round 1: w=(0,0) -> margins 0,0 -> both misclassified, m=2
    #   g0 = 1 + (-1) = 0; g1 = 2*1 + 1*(-1) = 1 -> w = (0, trunc(1/2)) = (0,0)
    # round 2: identical (weights unchanged) -> trajectory is stable no-op
    df = _feats(spark, [(1, 2, 1), (2, 1, -1)])
    traj = perceptron_train(df, ["x"], "y", rounds=2)
    assert traj == [[0, 0], [0, 0]]

    # separable with margin: (x=3,+1), (x=-3,-1)
    # round 1: both misclassified; g0=0, g1=3+3=6 -> w=(0,3)
    # round 2: margins 9,-9 -> y*margin>0 for both -> m=0 -> no-op
    df2 = _feats(spark, [(1, 3, 1), (2, -3, -1)])
    traj2 = perceptron_train(df2, ["x"], "y", rounds=3)
    assert traj2 == [[0, 3], [0, 3], [0, 3]]


def test_negative_gradient_truncates_toward_zero(spark):
    # three points all labeled -1 with positive x: g1 = -(1+2+4) = -7, m=3
    # trunc(-7/3) = -2 (floor would give -3); g0 = -3 -> trunc(-3/3) = -1
    df = _feats(spark, [(1, 1, -1), (2, 2, -1), (3, 4, -1)])
    traj = perceptron_train(df, ["x"], "y", rounds=1)
    assert traj == [[-1, -2]]


def test_margins_and_gate(spark):
    df = _feats(spark, [(1, 3, 1), (2, -3, -1), (3, 0, -1)])
    out = perceptron_margins(df, [0, 2], ["x"], label_col="y")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["margin"] == 6 and rows[1]["keep"] and rows[1]["correct"]
    assert rows[2]["margin"] == -6 and not rows[2]["keep"] and rows[2]["correct"]
    # margin 0 -> keep False; y=-1 -> correct True
    assert rows[3]["margin"] == 0 and not rows[3]["keep"] and rows[3]["correct"]


def test_partition_invariance(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(-50, 50), 1 if rng.random() < 0.5 else -1)
        for i in range(200)
    ]
    df = _feats(spark, rows)
    t1 = perceptron_train(df.coalesce(1), ["x"], "y", rounds=4)
    t32 = perceptron_train(df.repartition(32), ["x"], "y", rounds=4)
    assert t1 == t32  # integer sums + trunc division: partition-order-proof
