"""Smoke-size tests of the benchmark's own parts: generators, oracles
and spans. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracles  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    """Both directories hold the same file names with the same bytes."""
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and names
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda d, s: gen.topic_dump(d, s, messages=4000),
        lambda d, s: gen.stream_segments(d, s, [40, 40, 300]),
        lambda d, s: gen.corpus(d, s, docs=200),
    ],
    ids=["topic_dump", "stream_segments", "corpus"],
)
def test_generators_are_byte_identical_per_seed(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))


def test_topic_dump_carries_the_edge_cases(tmp_path):
    dump = gen.topic_dump(str(tmp_path), 1, messages=20_000)
    import pyarrow.parquet as pq

    t = pq.read_table(str(tmp_path))
    values = [oracles.parse_value(v) for v in t.column("value").to_pylist()]
    assert dump.messages == t.num_rows == 20_000
    assert 0 < values.count(None) < 0.02 * t.num_rows  # malformed
    assert any(v is not None and v[0] == 0 for v in values)  # missing id
    assert any(v is not None and v[1] == "" for v in values)  # missing msg
    ids = {}
    for p, v in zip(t.column("partition").to_pylist(), values):
        if v is not None:
            ids.setdefault(v[0], set()).add(p)
    assert any(len(ps) > 1 for ps in ids.values())  # same id, two partitions


def test_producer_publishes_on_schedule(tmp_path):
    segs = gen.stream_segments(str(tmp_path / "stage"), 1, [10] * 5)
    watch = tmp_path / "in"
    watch.mkdir()
    producer = gen.SegmentProducer(segs, segs.names, str(watch), time.time(), rate=50.0)
    producer.start()
    producer.join(timeout=10)
    assert not producer.is_alive() and producer.error is None
    assert sorted(os.listdir(watch)) == segs.names
    assert len(producer.late) == 5 and max(producer.late) < 1.0


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _python_lww(dump_dir: str, newest: bool = True) -> list[str]:
    import pyarrow.parquet as pq

    t = pq.read_table(dump_dir).to_pydict()
    best: dict = {}
    for p, off, raw in zip(t["partition"], t["offset"], t["value"]):
        v = oracles.parse_value(raw)
        if v is None:
            continue
        key = (p, v[0])
        if key not in best or (off > best[key][0] if newest else off < best[key][0]):
            best[key] = (off, v)
    return [json.dumps({"id": i, "msg": m}, separators=(",", ":")) for _, (i, m) in best.values()]


def _write_output(out_dir, lines):
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "part-00000"), "w") as fh:
        fh.write("".join(line + "\n" for line in lines))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def test_backfill_oracle_matches_python_and_rejects_lowest_offset(tmp_path):
    dump = gen.topic_dump(str(tmp_path / "dump"), 3, messages=6000)
    expected = oracles.digest(oracles.lww_lines(dump.path))
    assert expected == oracles.digest(_python_lww(dump.path))

    _write_output(str(tmp_path / "good"), _python_lww(dump.path))
    assert oracles.check_backfill(expected, str(tmp_path / "good")) == []

    _write_output(str(tmp_path / "oldest"), oracles.lww_lines(dump.path, newest_wins=False))
    assert oracles.check_backfill(expected, str(tmp_path / "oldest"))

    os.makedirs(tmp_path / "uncommitted")
    assert oracles.check_backfill(expected, str(tmp_path / "uncommitted"))


def test_stream_oracle_rejects_wrong_winners(tmp_path):
    segs = gen.stream_segments(str(tmp_path), 5, [200] * 6)
    expected = oracles.expected_winners(segs.tables)
    good = [
        (1, {"partition": p, "id": i, "offset": off, "msg": m})
        for (p, i), (off, m) in expected.items()
    ]
    assert oracles.wrong_stream_keys(expected, good) == set()

    # lowest offset wins: a later epoch re-emits each key's first message
    first: dict = {}
    for t in segs.tables:
        cols = t.to_pydict()
        for p, off, raw in zip(cols["partition"], cols["offset"], cols["value"]):
            v = oracles.parse_value(raw)
            if v is not None:
                first.setdefault((p, v[0]), (off, v[1]))
    oldest = good + [
        (2, {"partition": p, "id": i, "offset": off, "msg": m}) for (p, i), (off, m) in first.items()
    ]
    assert oracles.wrong_stream_keys(expected, oldest)
    assert oracles.wrong_stream_keys(expected, good[1:]) == {next(iter(expected))}


def _small_corpus(tmp_path):
    c = gen.corpus(str(tmp_path), 4, docs=400)
    sets = {d: oracles.shingles(t) for d, t in c.texts.items()}
    return c, sets, oracles.exact_pairs(sets)


def test_exact_pairs_equals_brute_force(tmp_path):
    _, sets, truth = _small_corpus(tmp_path)
    docs = sorted(sets)
    brute = {}
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            j = oracles.jaccard(sets[a], sets[b])
            if j >= oracles.THRESHOLD:
                brute[(a, b)] = j
    assert truth == brute and len(truth) > 20


def test_corpus_oracle_rejects_planted_errors(tmp_path):
    c, _, truth = _small_corpus(tmp_path)
    verified = [(a, b, round(j, 6)) for (a, b), j in truth.items()]
    assert oracles.check_pairs(truth, verified) == []

    (a, b), j = next(iter(truth.items()))
    wrong_j = [(a, b, round(j - 0.01, 6))] + verified[1:]
    assert oracles.check_pairs(truth, wrong_j)
    assert oracles.check_pairs(truth, verified + [(a, b + 10_000, 0.9)])
    assert oracles.check_pairs(truth, verified[: len(verified) // 2])  # recall

    survivors = oracles.min_label_survivors(c.texts, [(a, b) for a, b, _ in verified])
    assert oracles.check_survivors(c.texts, verified, survivors) == []
    # a dropped verified pair: components computed without one edge
    for k in range(len(verified)):
        dropped = verified[:k] + verified[k + 1 :]
        wrong = oracles.min_label_survivors(c.texts, [(x, y) for x, y, _ in dropped])
        if wrong != survivors:
            assert oracles.check_survivors(c.texts, verified, wrong)
            break
    else:
        pytest.fail("no verified pair is a bridge in the smoke corpus")


def test_chains_make_transitive_closure_matter(tmp_path):
    c, _, truth = _small_corpus(tmp_path)
    survivors = oracles.min_label_survivors(c.texts, truth)
    # some doc is near two docs that are not near each other (A≈B≈C)
    nbrs: dict = {}
    for a, b in truth:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    assert any(
        (min(x, y), max(x, y)) not in truth for ns in nbrs.values() for x in ns for y in ns if x != y
    )
    assert len(survivors) < len(c.texts)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_span_file_parses_and_self_time_within_span(tmp_path):
    tr = Tracer(enabled=True)
    tr.new_op()
    with tr.span("op"):
        with tr.span("scan") as a:
            a["rows"] = 3
            time.sleep(0.01)
        with tr.span("dedup"):
            with tr.span("inner"):
                time.sleep(0.01)
        time.sleep(0.01)
    path = tmp_path / "spans.json"
    tr.write(str(path))
    spans = json.loads(path.read_text())
    assert {s["name"] for s in spans} == {"op", "scan", "dedup", "inner"}
    by_name = {s["name"]: s for s in spans}
    assert by_name["scan"]["parent"] == by_name["op"]["id"]
    assert by_name["scan"]["attrs"]["rows"] == 3
    selfs = self_times(spans)
    for s in spans:
        assert 0 <= selfs[s["id"]] <= s["end"] - s["start"] + 1e-9
    assert selfs[by_name["op"]["id"]] < by_name["op"]["end"] - by_name["op"]["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as a:
        a["rows"] = 1
    assert tr.spans == []

