"""The interactive value checks accept a correct result and reject one
that leaves its input unchanged."""

import math

from pyspark.sql import Row

from perfbench.calls import MIX, check

CALLS = {c.name: c for c in MIX}
EXPECT = {
    "medians": {"l_quantity": 20.0, "l_discount": 0.05},
    "quantity_range": [1.0, 61.0],
    "price_mean": 100.0, "price_sd": 10.0,
    "shipmodes": ["AIR", "REG AIR"],
    "nearest": [[q, q + 200] for q in range(8)],
}


def run(name, rows):
    return check(CALLS[name], rows[0].__fields__, rows, {"lineitem": len(rows)}, EXPECT)


def test_imputation():
    good = [Row(l_quantity=None, l_discount=0.01, l_quantity_imputed=20.0, l_discount_imputed=0.01),
            Row(l_quantity=3.0, l_discount=None, l_quantity_imputed=3.0, l_discount_imputed=0.05)]
    assert run("imputation_MMM", good) is None
    kept_null = [Row(l_quantity=None, l_discount=0.01, l_quantity_imputed=None,
                     l_discount_imputed=0.01)]
    assert "imputation" in run("imputation_MMM", kept_null)


def test_binning():
    good = [Row(l_quantity=1.0, l_quantity_binned=1), Row(l_quantity=61.0, l_quantity_binned=10),
            Row(l_quantity=31.0, l_quantity_binned=6), Row(l_quantity=None, l_quantity_binned=None)]
    assert run("attribute_binning", good) is None
    assert "binning" in run("attribute_binning", [Row(l_quantity=31.0, l_quantity_binned=31)])


def test_one_hot():
    good = [Row(l_shipmode="REG AIR", l_shipmode_AIR=0, l_shipmode_REG_AIR=1),
            Row(l_shipmode=None, l_shipmode_AIR=None, l_shipmode_REG_AIR=None)]
    assert run("one_hot_encoding", good) is None
    assert "one-hot columns" in run("one_hot_encoding", [Row(l_shipmode="AIR")])
    wrong = [Row(l_shipmode="AIR", l_shipmode_AIR=0, l_shipmode_REG_AIR=1)]
    assert "one-hot" in run("one_hot_encoding", wrong)


def test_z_standardization():
    good = [Row(l_extendedprice=120.0, l_extendedprice_scaled=2.0)]
    assert run("z_standardization", good) is None
    same = [Row(l_extendedprice=120.0, l_extendedprice_scaled=120.0)]
    assert "z-standardization" in run("z_standardization", same)


def test_boxcox():
    good = [Row(l_extendedprice=x, l_extendedprice_boxcox=math.sqrt(x)) for x in (4.0, 9.0)]
    assert run("boxcox_transformation", good) is None
    mixed = [Row(l_extendedprice=4.0, l_extendedprice_boxcox=2.0),
             Row(l_extendedprice=9.0, l_extendedprice_boxcox=81.0)]
    assert "boxcox" in run("boxcox_transformation", mixed)


def test_topk():
    def rows(shift):
        return [Row(query_id=q, neighbor_id=q + shift if r == 1 else 10 * q + r + 10, cos_sim=0.9,
                    rank=r) for q in range(8) for r in (1, 2, 3)]
    assert run("brute_force_topk", rows(200)) is None
    assert "rank-1 neighbours" in run("brute_force_topk", rows(201))
    assert "missing columns" in run("brute_force_topk", [Row(vec_id=0)] * 24)
