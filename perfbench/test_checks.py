"""Each output check must pass on a correct result and fail on a corrupted
one. No Spark: the engine side is written out by hand.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import eventlog  # noqa: E402
from probes import high_percentile  # noqa: E402
from tables import write_tables  # noqa: E402

# (event_id, event_seq, op, repo, path, commit_seq, content, props)
EVENTS = [
    ("e1", 1, "I", "r0", "a", 0, "one", '{"size": 1, "mode": "add"}'),
    ("e2", 2, "U", "r0", "a", 1, "two", '{"size": 2, "mode": "mod"}'),
    ("e2", 2, "U", "r0", "a", 1, "two", '{"size": 2, "mode": "mod"}'),  # redelivery
    ("e3", 3, "I", "r0", "b", 1, "three", '{"size": 3, "mode": "add"}'),
    ("e4", 4, "D", "r0", "b", 2, "", '{"size": 0, "mode": "del"}'),  # delete wins
    ("e5", 5, "I", "r1", "a", 2, "five", '{"size": 5, "mode": "add", "branch": "dev"}'),
    ("e7", 7, "U", "r1", "c", 3, "seven", '{"size": 7, "mode": "mod"}'),
    ("e6", 6, "U", "r1", "c", 3, "six", '{"size": 6, "mode": "mod"}'),  # loses on event_seq
]


@pytest.fixture
def stream(tmp_path) -> str:
    cols = list(zip(*EVENTS))
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "event_id": cols[0], "event_seq": pa.array(cols[1], pa.int64()),
        "ts_ms": pa.array([1000 * s for s in cols[1]], pa.int64()), "op": cols[2],
        "source_partition": pa.array([0] * len(EVENTS), pa.int32()),
        "repo": cols[3], "path": cols[4], "commit": [f"c{c}" for c in cols[5]],
        "commit_seq": pa.array(cols[5], pa.int64()), "lang": ["go"] * len(EVENTS),
        "content": cols[6], "props": cols[7],
    }), path)
    return path


def engine_state() -> pd.DataFrame:
    """The final table a correct replay of EVENTS leaves, column for column."""
    rows = []
    for eid, seq, _, repo, path, cseq, content, props in (EVENTS[1], EVENTS[5], EVENTS[6]):
        p = json.loads(props)
        rows.append({
            "repo": repo, "path": path, "commit": f"c{cseq}", "lang": "go",
            "commit_seq": cseq, "event_seq": seq, "event_id": eid,
            "content_sha": hashlib.sha256(content.encode()).hexdigest(),
            "p_branch": p.get("branch"), "p_mode": p["mode"], "p_size": str(p["size"]),
        })
    return pd.DataFrame(rows)


def test_cdc_state_check_passes_on_the_correct_state(stream):
    assert checks.cdc_state_errors(engine_state(), [stream]) == []


@pytest.mark.parametrize("corrupt", [
    lambda df: df.drop(index=0),
    lambda df: df.assign(content_sha=df.content_sha.where(df.index != 1, "0" * 64)),
    lambda df: df.assign(p_size=df.p_size.where(df.index != 2, "8")),
    lambda df: df.assign(event_seq=df.event_seq.where(df.index != 2, 6)),
    lambda df: pd.concat([df, df.iloc[[0]].assign(path="b")], ignore_index=True),
], ids=["dropped-row", "altered-sha", "altered-prop", "stale-winner", "kept-delete"])
def test_cdc_state_check_fails_on_a_corrupted_state(stream, corrupt):
    assert checks.cdc_state_errors(corrupt(engine_state()), [stream])


COPIES = {1_000_003: 3, 1_000_009: 9}
PAIRS = [(3, 1_000_003, 1.0), (9, 1_000_009, 1.0), (4, 1_000_003, 0.9)]


def test_pair_check():
    assert checks.pair_errors(PAIRS, COPIES) == []
    assert checks.pair_errors(PAIRS[1:], COPIES)  # one copy unpaired
    assert checks.pair_errors([(3, 1_000_003, 0.99)] + PAIRS[1:], COPIES)  # altered score


def test_topk_check():
    rows = [(7, 1, 1.0, 1), (7, 2, 0.5, 2), (8, 4, 1.0, 1)]
    assert checks.topk_errors(rows, [7, 8]) == []
    assert checks.topk_errors(rows[1:], [7, 8])  # query 7 lost its top hit
    assert checks.topk_errors([(7, 1, 0.9999, 1)] + rows[1:], [7, 8])  # altered score


def test_query_check_uses_the_oracle_and_its_cache(tmp_path):
    tables = write_tables(str(tmp_path / "tables"))
    sql = "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment"
    cust = pd.read_parquet(os.path.join(tables, "customer.parquet"))
    got = cust.groupby("c_mktsegment").size().rename("n").reset_index()
    cache = str(tmp_path / "oracle")
    assert checks.query_errors("seg", got, sql, tables, cache) == []
    assert len(os.listdir(cache)) == 1
    assert checks.query_errors("seg", got, sql, tables, cache) == []  # from the cache
    assert checks.query_errors("seg", got.iloc[1:], sql, tables, cache)  # dropped row
    bad = got.assign(n=got.n.where(got.index != 0, 0))
    assert checks.query_errors("seg", bad, sql, tables, cache)  # altered value


def test_event_log_attribution(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g-add"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 200},
        # a streaming job: its own group, submitted inside the drain span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [1, 0], "Properties": {"spark.jobGroup.id": "stream-run"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
    ]
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = eventlog.parse(str(log))
    spans = [
        {"id": 0, "group": "g-add", "start_ms": 0, "end_ms": 1000},
        {"id": 1, "group": "g-drain", "start_ms": 1000, "end_ms": 2000, "interval": True},
    ]
    by_span = eventlog.attribute(jobs, spans)
    assert [j.job_id for j in by_span[0]] == [0] and [j.job_id for j in by_span[1]] == [1]
    tot = eventlog.totals(by_span[0])
    assert (tot["task_s"], tot["shuffle_write_bytes"], tot["shuffle_read_bytes"],
            tot["spill_bytes"]) == (1.5, 40, 3, 7)
    assert eventlog.totals(by_span[1])["tasks"] == 0  # stage 0 ran for job 0
    assert eventlog.uncovered_s(1000, 2000, by_span[1]) == 0.7


def test_high_percentile_needs_ten_samples_above():
    assert high_percentile(list(range(10))) is None
    assert high_percentile([float(x) for x in range(1, 21)]) == (50.0, 10.0)
