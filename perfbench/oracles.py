"""Output oracles: independent recomputations each workload's output is
checked against. Each ``check_*`` returns a list of problems; an empty
list means the output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
from collections import Counter

THRESHOLD = 0.8
NUM_HASHES = 16
ROWS_PER_BAND = 2

# ---------------------------------------------------------------------------
# backfill_lww: DuckDB last-write-wins over the same parquet files
# ---------------------------------------------------------------------------

_LWW_SQL = """
WITH src AS (
  SELECT "partition", "offset", CASE WHEN json_valid(v) THEN v END AS v
  FROM (SELECT "partition", "offset", decode(value) AS v FROM read_parquet('{glob}'))
), parsed AS (
  SELECT "partition", "offset",
         COALESCE(CAST(json_extract(v, '$.id') AS BIGINT), 0) AS id,
         COALESCE(json_extract_string(v, '$.msg'), '') AS msg
  FROM src
  WHERE json_type(v) = 'OBJECT'
), ranked AS (
  SELECT id, msg, row_number() OVER (
    PARTITION BY "partition", id ORDER BY "offset" {order}) AS rn
  FROM parsed
)
SELECT '{{"id":' || id || ',"msg":' || to_json(msg) || '}}' AS line
FROM ranked WHERE rn = 1
"""


def lww_lines(dump_dir: str, *, newest_wins: bool = True) -> list[str]:
    """Expected JSON lines of the backfill; ``newest_wins=False`` is the
    planted wrong answer (lowest offset wins) the tests feed back in."""
    import duckdb

    sql = _LWW_SQL.format(
        glob=os.path.join(dump_dir, "*.parquet"), order="DESC" if newest_wins else "ASC"
    )
    with duckdb.connect() as con:
        return [r[0] for r in con.sql(sql).fetchall()]


def digest(lines: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def read_text_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def check_backfill(expected: tuple[int, str], out_dir: str) -> list[str]:
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return ["sink not committed (no _SUCCESS)"]
    got = digest(read_text_lines(out_dir))
    if got[0] != expected[0]:
        return [f"row count {got[0]} != oracle {expected[0]}"]
    if got[1] != expected[1]:
        return ["JSON-lines hash differs from the oracle"]
    return []


# ---------------------------------------------------------------------------
# stream_lww: the last emitted winner per (partition, id)
# ---------------------------------------------------------------------------


def parse_value(raw: bytes) -> tuple[int, str] | None:
    """The reference's tolerant parse: malformed or non-object JSON is
    dropped; a missing id is 0 and a missing msg is ''."""
    try:
        obj = json.loads(raw)
    except ValueError:
        return None
    if not isinstance(obj, dict):
        return None
    return int(obj.get("id", 0)), str(obj.get("msg", ""))


def expected_winners(tables) -> dict[tuple[int, int], tuple[int, str]]:
    """(partition, id) → (offset, msg) of the highest offset generated."""
    best: dict[tuple[int, int], tuple[int, str]] = {}
    for t in tables:
        cols = t.to_pydict()
        for p, off, raw in zip(cols["partition"], cols["offset"], cols["value"]):
            parsed = parse_value(raw)
            if parsed is None:
                continue
            key = (p, parsed[0])
            if key not in best or off > best[key][0]:
                best[key] = (off, parsed[1])
    return best


def segment_keys(table) -> set[tuple[int, int]]:
    cols = table.to_pydict()
    keys = set()
    for p, raw in zip(cols["partition"], cols["value"]):
        parsed = parse_value(raw)
        if parsed is not None:
            keys.add((p, parsed[0]))
    return keys


def read_epoch_records(out_dir: str) -> list[tuple[int, dict]]:
    """(epoch, record) for every line the per-epoch sink wrote."""
    out = []
    for d in glob.glob(os.path.join(out_dir, "epoch=*")):
        epoch = int(d.rsplit("=", 1)[1])
        out.extend((epoch, json.loads(line)) for line in read_text_lines(d))
    return out


def wrong_stream_keys(expected: dict, records: list[tuple[int, dict]]) -> set:
    """Keys whose last emitted winner differs from the generated one,
    plus keys emitted that were never generated."""
    last: dict[tuple[int, int], tuple[int, int, str]] = {}
    for epoch, r in records:
        key = (r["partition"], r["id"])
        if key not in last or epoch > last[key][0]:
            last[key] = (epoch, r["offset"], r["msg"])
    wrong = {k for k, v in expected.items() if k not in last or last[k][1:] != v}
    wrong.update(k for k in last if k not in expected)
    return wrong


# ---------------------------------------------------------------------------
# corpus_neardup: exact Jaccard, LSH recall and connected components
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def exact_pairs(sets: dict[int, set], threshold: float = THRESHOLD) -> dict[tuple[int, int], float]:
    """Every pair with Jaccard ≥ threshold, by prefix filtering: two sets
    that reach the threshold share a gram among each one's
    ``|s| - ceil(t·|s|) + 1`` rarest grams."""
    df = Counter(g for s in sets.values() for g in s)
    index: dict[str, list[int]] = {}
    for doc, s in sets.items():
        ordered = sorted(s, key=lambda g: (df[g], g))
        for g in ordered[: len(s) - math.ceil(threshold * len(s)) + 1]:
            index.setdefault(g, []).append(doc)
    pairs = {}
    for docs in index.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                key = (a, b) if a < b else (b, a)
                if key not in pairs:
                    j = jaccard(sets[a], sets[b])
                    pairs[key] = j
    return {k: j for k, j in pairs.items() if j >= threshold}


def lsh_probability(j: float) -> float:
    """Chance that MinHash-LSH with NUM_HASHES hashes in bands of
    ROWS_PER_BAND makes a pair of Jaccard ``j`` a candidate."""
    bands = NUM_HASHES // ROWS_PER_BAND
    return 1.0 - (1.0 - j**ROWS_PER_BAND) ** bands


def min_label_survivors(docs, edges) -> set[int]:
    """Minimum doc id of every connected component (union-find)."""
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d for d in docs if find(d) == d}


def allowed_misses(truth_js, tail: float = 1e-3) -> int:
    """Most true pairs LSH may miss: the smallest k with P(misses > k) ≤
    ``tail``, misses being Poisson with the mean the parameters predict."""
    lam = sum(1.0 - lsh_probability(j) for j in truth_js)
    k, term = 0, math.exp(-lam)
    cdf = term
    while 1.0 - cdf > tail:
        k += 1
        term *= lam / k
        cdf += term
    return k


def check_pairs(truth: dict[tuple[int, int], float], verified: list[tuple[int, int, float]]) -> list[str]:
    """Every verified pair is a true pair with the right Jaccard, and
    recall of the true pairs reaches what the LSH parameters predict."""
    problems = []
    found = set()
    for a, b, j in verified:
        key = (min(a, b), max(a, b))
        if key not in truth:
            problems.append(f"pair {key} verified but its Jaccard is below {THRESHOLD}")
        elif abs(truth[key] - j) > 1e-6:
            problems.append(f"pair {key} Jaccard {j} != exact {truth[key]:.6f}")
        found.add(key)
    misses = len(truth.keys() - found)
    limit = allowed_misses(truth.values())
    if misses > limit:
        problems.append(f"LSH missed {misses} of {len(truth)} true pairs; at most {limit} expected")
    return problems[:10]


def check_survivors(docs, verified, survivors) -> list[str]:
    expected = min_label_survivors(docs, [(a, b) for a, b, _ in verified])
    got = set(survivors)
    if got != expected:
        return [f"survivors differ: {len(got - expected)} extra, {len(expected - got)} missing"]
    return []
