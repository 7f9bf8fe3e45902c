"""Correctness checks made apart from the program, in pure Python over
the generated inputs.  They run after timing and are never timed.  Each
returns a list of failure messages (empty when the outputs are right).

The ``corrupt_*`` functions change one output row; a check must then
fail, which shows that it looks at the rows it claims to check.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from textnorm import jaccard, levenshtein, levenshtein_norm, normalize, shingles

_EPS = 1e-9
_MAX_REPORTED = 5


def _close(a, b, eps: float = _EPS) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= eps


def _read(data: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(data, name)).to_pylist()


# ---------------------------------------------------------------------------
# live_match
# ---------------------------------------------------------------------------


def _best_word(word: str, words: list[str]) -> str | None:
    """Dictionary word within Levenshtein 1, by (distance, word)."""
    best = None
    for w in words:
        if abs(len(w) - len(word)) > 1:
            continue
        d = levenshtein(word, w)
        if d <= 1 and (best is None or (d, w) < best):
            best = (d, w)
    return best[1] if best else None


def check_live(data: str, batches: list[list[dict]], results: list[dict]) -> list[str]:
    words = [r["first"] for r in _read(data, "firstnames.parquet")]
    index = defaultdict(list)
    for r in _read(data, "ref.parquet"):
        index[(r["ref_last"], r["ref_first"], r["ref_birth"])].append((r["person_id"], r["ref_place"]))
    memo: dict[str, str | None] = {}
    errors: list[str] = []
    for res in results:
        if not res["ok"]:
            continue
        sent = {str(r["qid"]): r for r in batches[res["batch"]]}
        got = defaultdict(list)
        for row in res["rows"]:
            if row.get("qid") not in sent:
                errors.append(f"request {res['batch']}: row with foreign qid {row.get('qid')!r}")
                continue
            got[row["qid"]].append(row)
        for qid, q in sent.items():
            rows = got.get(qid)
            if not rows:
                errors.append(f"request {res['batch']}: input row {qid} dropped")
                continue
            ln, fn_ = normalize(q["last_name"]), normalize(q["first_name"])
            if fn_ not in memo:
                memo[fn_] = _best_word(fn_, words)
            match = memo[fn_]
            hits = index.get((ln, match, q["birth_date"]), []) if match is not None else []
            want = sorted(hits) or [(None, None)]
            score = levenshtein_norm(fn_, match) if match is not None else None
            have = sorted((r["match_id"], r["match_place"]) for r in rows)
            if have != want:
                errors.append(f"qid {qid}: matches {have}, expected {want}")
            for r in rows:
                if (r["last_norm"], r["first_norm"], r["first_norm_match"]) != (ln, fn_, match):
                    errors.append(
                        f"qid {qid}: keys {(r['last_norm'], r['first_norm'], r['first_norm_match'])}, "
                        f"expected {(ln, fn_, match)}"
                    )
                if not _close(r["match_score"], score):
                    errors.append(f"qid {qid}: score {r['match_score']}, expected {score}")
    return errors


def corrupt_live(results: list[dict]) -> None:
    for res in results:
        if res["ok"] and res["rows"]:
            row = res["rows"][0]
            row["match_id"] = (row["match_id"] or 0) + 1
            return


# ---------------------------------------------------------------------------
# dedup_resolve
# ---------------------------------------------------------------------------


def _mode(values: list) -> object:
    counts = Counter(v for v in values if v is not None)
    if not counts:
        return None
    return min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]


def _rule(rule: str, members: list[dict], attr: str):
    vals = [m[attr] for m in members]
    present = [v for v in vals if v is not None]
    if rule == "first":
        return min(members, key=lambda m: m["rec_id"])[attr]
    if rule == "mode":
        return _mode(vals)
    if rule == "min":
        return min(present) if present else None
    if rule == "max":
        return max(present) if present else None
    raise ValueError(rule)


def _find(parent: dict, x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def check_dedup(data: str, pairs: list[tuple], gold: list[dict], threshold: float,
                rules: dict[str, str]) -> list[str]:
    recs = {r["rec_id"]: r for r in _read(data, "records.parquet")}
    sh = {
        i: shingles(normalize(" ".join(v for v in (r["last_name"], r["first_name"], r["birth_date"]) if v)))
        for i, r in recs.items()
    }
    errors = []
    emitted = set()
    for a, b, j in pairs:
        emitted.add((a, b))
        own = jaccard(sh[a], sh[b])
        if a >= b or own < threshold - 1e-12 or not _close(j, round(own, 6), 1e-6):
            errors.append(f"pair ({a}, {b}) jaccard {j}, recomputed {own:.6f}")
    # the prefix-filter kernel is exact: no planted pair at or above the
    # threshold may be missing
    clusters = defaultdict(list)
    for t in _read(data, "truth.parquet"):
        clusters[t["cluster"]].append(t["rec_id"])
    for members in clusters.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if (a, b) not in emitted and jaccard(sh[a], sh[b]) >= threshold:
                    errors.append(f"planted pair ({a}, {b}) with jaccard >= {threshold} not emitted")
    parent = {i: i for i in recs}
    for a, b, _ in pairs:
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = defaultdict(list)
    for i in recs:
        comps[_find(parent, i)].append(recs[i])
    want = {min(m["rec_id"] for m in ms): ms for ms in comps.values()}
    got = {g["entity_id"]: g for g in gold}
    if len(gold) != len(got):
        errors.append("duplicate entity ids in the golden records")
    errors += [f"entity {e} missing" for e in sorted(want.keys() - got.keys())[:_MAX_REPORTED]]
    errors += [f"unexpected entity {e}" for e in sorted(got.keys() - want.keys())[:_MAX_REPORTED]]
    for e in want.keys() & got.keys():
        members, g = want[e], got[e]
        if g["n_members"] != len(members):
            errors.append(f"entity {e}: {g['n_members']} members, expected {len(members)}")
        for attr, rule in rules.items():
            v = _rule(rule, members, attr)
            if g[attr] != v:
                errors.append(f"entity {e}: {attr} {g[attr]!r}, expected {v!r} ({rule})")
    return errors


def corrupt_dedup(gold: list[dict]) -> None:
    gold[0]["birth_date"] = "19000101" if gold[0]["birth_date"] != "19000101" else "19000102"


def summarize(errors: list[str]) -> str:
    head = "; ".join(errors[:_MAX_REPORTED])
    return head + (f" (+{len(errors) - _MAX_REPORTED} more)" if len(errors) > _MAX_REPORTED else "")

