"""The checkers must reject corrupted outputs. Run with
``python3 -m pytest perfbench/test_checks.py`` (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import checks
import inputs


@pytest.fixture(scope="module")
def events():
    return pd.concat(inputs.cdc_events(np.random.default_rng(7), 3, 400, 300), ignore_index=True)


def _target(state: dict) -> pd.DataFrame:
    return pd.DataFrame([(k, e, v) for k, (e, v) in state.items()],
                        columns=["id", "event_id", "value"])


def test_last_state_orders_delete_after_others_at_equal_ts():
    ts = pd.to_datetime([inputs.T0_US] * 2, unit="us")
    ev = pd.DataFrame({"event_id": [5, 4], "ts": ts, "user_id": [1, 1],
                       "event_type": ["view", "error"], "value": [1.0, 2.0], "props": ["", ""]})
    # the DELETE has the lower event_id but still wins the tie on ts
    assert checks.last_state(ev) == {}
    ev.loc[1, "ts"] = ts[0] - pd.Timedelta(milliseconds=1)
    assert checks.last_state(ev) == {"user/1": (5, 1.0)}


def test_target_accepts_the_independent_last_state(events):
    want = checks.last_state(events)
    assert checks.check_target(_target(want), want) == []


def test_target_with_one_value_changed_is_rejected(events):
    want = checks.last_state(events)
    got = dict(want)
    k = next(iter(got))
    got[k] = (got[k][0], got[k][1] + 0.01)
    assert checks.check_target(_target(got), want)


def test_target_keeping_a_deleted_key_is_rejected(events):
    want = checks.last_state(events)
    deleted = sorted(set("user/" + events["user_id"].astype(str)) - want.keys())
    assert deleted, "the fixture must delete some keys"
    got = dict(want, **{deleted[0]: (0, 0.0)})
    assert checks.check_target(_target(got), want)


def test_target_with_a_duplicated_key_is_rejected(events):
    want = checks.last_state(events)
    t = _target(want)
    assert checks.check_target(pd.concat([t, t.iloc[:1]]), want)


def _payloads(events, batch_max_size=50):
    """A correct delivery in two batches: every key's first event upserted,
    then the deletes, then the final states, upserts chunked."""
    want = checks.last_state(events)
    ids = "user/" + events["user_id"].astype(str)
    first = events.assign(id=ids).groupby("id").head(1)
    out = [{"upserts": [{"id": k, "event_id": int(e), "value": float(v)}], "batch_id": 0}
           for k, e, v in zip(first["id"], first["event_id"], first["value"])]
    upserts = [{"id": k, "event_id": e, "value": v} for k, (e, v) in want.items()]
    out.append({"deletes": sorted(set(ids) - want.keys()), "batch_id": 1})
    out += [{"upserts": upserts[i : i + batch_max_size], "batch_id": 1}
            for i in range(0, len(upserts), batch_max_size)]
    fast = ("user/" + events.loc[events["event_type"] == "error", "user_id"].astype(str)).tolist()
    return out, fast


def test_trickle_accepts_a_correct_delivery(events):
    payloads, fast = _payloads(events)
    assert checks.check_trickle(payloads, fast, events, 50) == []


def test_trickle_payload_log_missing_a_delete_is_rejected(events):
    payloads, fast = _payloads(events)
    i = next(i for i, p in enumerate(payloads) if "deletes" in p)
    payloads[i] = {"deletes": payloads[i]["deletes"][1:], "batch_id": 1}
    assert checks.check_trickle(payloads, fast, events, 50)


def test_trickle_fast_path_missing_a_delete_is_rejected(events):
    payloads, fast = _payloads(events)
    assert checks.check_trickle(payloads, fast[1:], events, 50)


def test_trickle_oversized_payload_is_rejected(events):
    payloads, fast = _payloads(events, batch_max_size=80)
    assert checks.check_trickle(payloads, fast, events, 50)


@pytest.fixture(scope="module")
def corpus():
    c = inputs.corpus(np.random.default_rng(3), 200, 40)
    c["shingles"] = {int(i): checks.shingle_set(t) for i, t in zip(c["docs"]["doc_id"], c["docs"]["text"])}
    return c


def _true_pairs(c, threshold=0.6):
    ids = sorted(c["shingles"])
    return [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]
            if checks.jaccard(c["shingles"][a], c["shingles"][b]) >= threshold]


def test_exact_dedup_checker(corpus):
    groups = {}
    for d, t in zip(corpus["docs"]["doc_id"], corpus["docs"]["text"]):
        groups.setdefault(checks.normalise(t), []).append(int(d))
    rows = [(min(v), len(v)) for v in groups.values()]
    assert any(n > 1 for _, n in rows), "the fixture must plant exact copies"
    assert checks.check_exact_dedup(rows, corpus["docs"]) == []
    k, n = next((k, n) for k, n in rows if n > 1)
    bad = [r for r in rows if r != (k, n)] + [(k, n - 1)]
    assert checks.check_exact_dedup(bad, corpus["docs"])


def test_pairs_checker_accepts_all_true_pairs(corpus):
    errs, recall = checks.check_pairs(_true_pairs(corpus), corpus["shingles"], 0.6,
                                      corpus["families"], 0.2, 0.8)
    assert errs == [] and recall == 1.0


def test_near_dup_pair_below_threshold_is_rejected(corpus):
    pairs = _true_pairs(corpus)
    ids = sorted(corpus["shingles"])
    low = next((a, b) for a in ids for b in ids if a < b
               and checks.jaccard(corpus["shingles"][a], corpus["shingles"][b]) < 0.6)
    errs, _ = checks.check_pairs(pairs + [low], corpus["shingles"], 0.6, corpus["families"], 0.2, 0.8)
    assert errs


def test_missing_planted_pairs_are_rejected(corpus):
    errs, recall = checks.check_pairs([], corpus["shingles"], 0.6, corpus["families"], 0.2, 0.8)
    assert errs and recall == 0.0


def test_wrong_cluster_label_is_rejected():
    pairs = [(1, 2), (2, 3), (7, 9)]
    good = [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]
    assert checks.check_clusters(good, pairs) == []
    assert checks.check_clusters([(1, 1), (2, 1), (3, 2), (7, 7), (9, 7)], pairs)


def _topk(n_queries=3, k=4):
    return [(q, 100 * q + r, 1.0 - 0.1 * r, r) for q in range(n_queries) for r in range(1, k + 1)]


def test_topk_checker():
    rows = _topk()
    assert checks.check_topk(rows, range(3), 4) == []
    assert checks.check_topk(rows[:-1], range(3), 4)  # a query short of k rows
    swapped = [(q, n, s if r != 2 else 2.0, r) for q, n, s, r in rows]
    assert checks.check_topk(swapped, range(3), 4)  # a score rising with rank


def test_topk_containing_a_removed_id_is_rejected():
    rows = _topk()
    assert checks.check_removed(rows, {5}) == []
    assert checks.check_removed(rows, {102})


def test_hit_rate_below_floor_is_rejected():
    rows = _topk()
    planted = {0: 1, 1: 101, 2: 999}
    errs, rate = checks.check_hits(rows, planted, 0.8, "probe")
    assert errs and rate == pytest.approx(2 / 3)
    assert checks.check_hits(rows, {0: 1, 1: 101}, 0.8, "probe")[0] == []
