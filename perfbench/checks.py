"""Output checkers. Each takes the program's output and the generated input,
recomputes the expected result in plain Python/pandas/numpy (never through
the package), and returns a list of problems: empty means correct.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd

from inputs import RAW_TO_OP

# ---------------------------------------------------------------------------
# CDC
# ---------------------------------------------------------------------------


def last_state(events: pd.DataFrame) -> dict[str, tuple[int, float]]:
    """Independent last-event-per-key: order (ts, DELETE after others at
    equal ts, event_id); keys whose last event is a DELETE are absent.
    Returns {id: (event_id, value)}."""
    ev = events.assign(
        id="user/" + events["user_id"].astype(str),
        op=events["event_type"].map(RAW_TO_OP),
    )
    ev = ev.assign(del_rank=(ev["op"] == "DELETE").astype(int))
    last = ev.sort_values(["ts", "del_rank", "event_id"]).groupby("id").tail(1)
    live = last[last["op"] != "DELETE"]
    return {i: (int(e), float(v)) for i, e, v in zip(live["id"], live["event_id"], live["value"])}


def check_target(target: pd.DataFrame, expected: dict) -> list[str]:
    """The MERGE target read back must hold exactly the expected live keys,
    once each, with the expected event_id and value."""
    errs = []
    dup = target["id"][target["id"].duplicated()]
    if len(dup):
        errs.append(f"{len(dup)} keys appear more than once, e.g. {dup.iloc[0]}")
    got = {i: (int(e), float(v)) for i, e, v in zip(target["id"], target["event_id"], target["value"])}
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [k for k in expected.keys() & got.keys() if got[k] != expected[k]]
    if missing:
        errs.append(f"{len(missing)} live keys missing, e.g. {sorted(missing)[0]}")
    if extra:
        errs.append(f"{len(extra)} deleted or unknown keys present, e.g. {sorted(extra)[0]}")
    if wrong:
        k = sorted(wrong)[0]
        errs.append(f"{len(wrong)} keys with a wrong row, e.g. {k}: {got[k]} != {expected[k]}")
    return errs


def apply_payload(state: dict, payload: dict) -> None:
    """Apply one instance-endpoint payload to {id: (event_id, value)}: the
    sink sends a batch's deletes before its upserts."""
    for i in payload.get("deletes", []):
        state.pop(i, None)
    for row in payload.get("upserts", []):
        state[row["id"]] = (int(row["event_id"]), float(row["value"]))


def replay_payloads(payloads: list[dict]) -> dict:
    """Apply instance-endpoint payloads in arrival order."""
    state: dict = {}
    for p in payloads:
        apply_payload(state, p)
    return state


def check_trickle(instance_payloads: list[dict], delete_ids: list[str], events: pd.DataFrame,
                  batch_max_size: int) -> list[str]:
    errs = check_target(
        pd.DataFrame(
            [(k, e, v) for k, (e, v) in replay_payloads(instance_payloads).items()],
            columns=["id", "event_id", "value"],
        ),
        last_state(events),
    )
    errs = [f"instance replay: {e}" for e in errs]
    want = Counter("user/" + events.loc[events["event_type"] == "error", "user_id"].astype(str))
    got = Counter(delete_ids)
    if got != want:
        errs.append(
            f"delete endpoint: {sum((want - got).values())} DELETE events missing, "
            f"{sum((got - want).values())} unexpected"
        )
    big = [len(p["upserts"]) for p in instance_payloads if len(p.get("upserts", [])) > batch_max_size]
    if big:
        errs.append(f"{len(big)} upsert payloads exceed batch_max_size={batch_max_size}: {max(big)} rows")
    return errs


# ---------------------------------------------------------------------------
# corpus curation
# ---------------------------------------------------------------------------


def normalise(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip(" ")


def shingle_set(text: str) -> set[str]:
    """Word 3-shingles of the normalised text, as minhash_lsh_pairs shingles it."""
    toks = normalise(text).split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def check_exact_dedup(rows: list[tuple[int, int]], docs: pd.DataFrame) -> list[str]:
    """rows: (keep_doc_id, dup_count) per fingerprint group."""
    groups: dict[str, list[int]] = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        groups.setdefault(normalise(t), []).append(int(d))
    want = Counter((min(v), len(v)) for v in groups.values())
    got = Counter((int(k), int(c)) for k, c in rows)
    if got != want:
        return [f"exact_dedup: {sum((want - got).values())} groups missing, "
                f"{sum((got - want).values())} unexpected"]
    return []


def check_pairs(pairs: list[tuple[int, int]], shingles: dict[int, set], threshold: float,
                families: list[list[int]], margin: float, floor: float) -> tuple[list[str], float]:
    """Every reported pair must reach the threshold by exact Jaccard; within
    the planted families, pairs at or above threshold + margin must be found
    at a rate of at least ``floor``. Returns (problems, planted recall)."""
    errs = []
    below = [(a, b) for a, b in pairs if jaccard(shingles[a], shingles[b]) < threshold]
    if below:
        a, b = below[0]
        errs.append(f"{len(below)} reported pairs below threshold {threshold}, e.g. "
                    f"({a}, {b}) at {jaccard(shingles[a], shingles[b]):.3f}")
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    planted = [
        (a, b) for fam in families for i, a in enumerate(fam) for b in fam[i + 1 :]
        if jaccard(shingles[a], shingles[b]) >= threshold + margin
    ]
    recall = sum((min(a, b), max(a, b)) in found for a, b in planted) / max(1, len(planted))
    if recall < floor:
        errs.append(f"planted near-dup recall {recall:.3f} below floor {floor} "
                    f"({len(planted)} pairs at J >= {threshold + margin})")
    return errs, recall


def component_minima(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    return {x: min(g) for g in groups.values() for x in g}


def check_clusters(labels: list[tuple[int, int]], pairs: list[tuple[int, int]]) -> list[str]:
    want = component_minima(pairs)
    got = {int(d): int(c) for d, c in labels}
    if got == want:
        return []
    diff = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    k = diff[0]
    return [f"dup_clusters: {len(diff)} labels differ from union-find minima, "
            f"e.g. doc {k}: {got.get(k)} != {want.get(k)}"]


# ---------------------------------------------------------------------------
# ANN probes
# ---------------------------------------------------------------------------


def check_topk(rows: list[tuple[int, int, float, int]], query_ids, k: int) -> list[str]:
    """rows: (query_id, neighbor_id, score, rank). Every query has exactly k
    rows, ranks 1..k, scores non-increasing with rank."""
    by_q: dict[int, list] = {}
    for q, n, s, r in rows:
        by_q.setdefault(int(q), []).append((int(r), float(s), int(n)))
    errs = []
    for q in query_ids:
        got = sorted(by_q.get(int(q), []))
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            errs.append(f"query {q}: ranks {[r for r, _, _ in got]} are not 1..{k}")
        elif any(got[i][1] < got[i + 1][1] for i in range(len(got) - 1)):
            errs.append(f"query {q}: scores increase with rank")
        if len(errs) >= 3:
            break
    return errs


def hit_rate(rows, planted: dict[int, int]) -> float:
    """Share of queries whose planted source id is among their results."""
    found: dict[int, set] = {}
    for q, n, _, _ in rows:
        found.setdefault(int(q), set()).add(int(n))
    return sum(planted[q] in found.get(q, ()) for q in planted) / max(1, len(planted))


def check_hits(rows, planted: dict[int, int], floor: float, what: str) -> tuple[list[str], float]:
    rate = hit_rate(rows, planted)
    if rate < floor:
        return [f"{what}: planted-neighbour hit rate {rate:.3f} below floor {floor}"], rate
    return [], rate


def check_removed(rows, removed: set[int]) -> list[str]:
    bad = sorted({int(n) for _, n, _, _ in rows if int(n) in removed})
    if bad:
        return [f"{len(bad)} removed ids returned by probes, e.g. {bad[0]}"]
    return []

