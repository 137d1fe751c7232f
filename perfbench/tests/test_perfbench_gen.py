"""Generator determinism per seed and the shape of the ground truth."""

import numpy as np
import pandas as pd

import gen

GROUPS = [(2011, 1), (2011, 2), (2012, 2)]


def test_legis_same_seed_same_inputs_other_seed_other_inputs():
    a, ta = gen.legis_snowflake(7, GROUPS, rolls_per_group=24)
    b, tb = gen.legis_snowflake(7, GROUPS, rolls_per_group=24)
    c, _ = gen.legis_snowflake(8, GROUPS, rolls_per_group=24)
    for k in a:
        pd.testing.assert_frame_equal(a[k], b[k])
    assert ta == tb
    assert not a["votes"].equals(c["votes"])


def test_legis_shape_and_truth():
    tables, truth = gen.legis_snowflake(3, GROUPS, rolls_per_group=24)
    assert set(truth) == set(GROUPS)
    house = truth[(2011, 1)]
    assert len(house["surnames"]) == gen.SEATS[1]
    assert len(house["rows"]) == 24
    assert all(len(r) == 3 + gen.SEATS[1] for r in house["rows"])
    votes = tables["votes"]
    assert votes.member_id.isna().all()
    # every non-blank cell is one vote row
    cells = sum(c != "" for t in truth.values() for r in t["rows"] for c in r[3:])
    assert cells == len(votes)
    # nickname duplicates: more members than seats
    assert len(tables["members"]) > sum(gen.SEATS.values())


def test_lake_split_is_deterministic_and_disjoint():
    a, b = gen.lake_split(1, 5000, 2000, 500, 16), gen.lake_split(1, 5000, 2000, 500, 16)
    for k in a:
        assert np.array_equal(a[k], b[k])
    assert not np.array_equal(a["query"], gen.lake_split(2, 5000, 2000, 500, 16)["query"])
    assert len(a["bpe_train"]) == len(set(a["bpe_train"])) == 500
    assert len(a["query"]) == 16 and len(a["delta"]) == 200
    assert not set(a["query"]) & set(a["delta"])


def test_topk_cosine_breaks_ties_on_the_smaller_id():
    base = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    ids = np.array([9, 4, 1])
    assert gen.topk_cosine(base, ids, np.array([[1.0, 0.0]]), k=2) == [[4, 9]]
