"""Tests of the benchmark's own generator, model, checks and stub sink.

    python3 -m pytest perfbench/tests -q

All but the last test are plain Python; the last one runs the benchmark
command once (one Spark session) with a corrupted expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request
from collections import Counter

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import stub_clickhouse  # noqa: E402
import workloads  # noqa: E402


def _stream(seed: int, zipf: float, n_blocks: int = 40):
    rng = np.random.default_rng(seed)
    model = gen.Model()
    blocks = [gen.initial_load(rng, model, "orders_b", 200, 1)]
    g = gen.ChangeGen(rng, model, "orders_b", {"CREATE": 0.1, "UPDATE": 0.6, "DELETE": 0.3}, zipf=zipf)
    blocks += gen.make_blocks([(g, 50)], n_blocks, 2, model)
    return blocks, model


@pytest.mark.parametrize("zipf", [0.0, 1.3])
def test_sequences_are_valid_and_model_follows_them(zipf):
    blocks, model = _stream(7, zipf)
    alive: dict[str, dict] = {}
    seen: set[str] = set()
    ops = Counter()
    for _, _, changes in blocks:
        for c in changes:
            ops[c["op"]] += 1
            if c["op"] == "CREATE":
                assert c["pk"] not in seen, "CREATE of a pk seen before"
                seen.add(c["pk"])
                alive[c["pk"]] = {**c["fields"], "id": c["pk"]}
            else:
                assert c["pk"] in alive, f"{c['op']} of a dead or unknown pk"
                if c["op"] == "UPDATE":
                    alive[c["pk"]].update(c["fields"])
                else:
                    del alive[c["pk"]]
    assert alive == model.tables["orders_b"]
    assert ops["UPDATE"] > ops["DELETE"] > 0 and ops["CREATE"] > 200


def test_zipf_skews_updates_towards_hot_keys():
    def top_share(zipf):
        rng = np.random.default_rng(3)
        model = gen.Model()
        gen.initial_load(rng, model, "orders_b", 2000, 1)
        g = gen.ChangeGen(rng, model, "orders_b", {"CREATE": 0.1, "UPDATE": 0.7, "DELETE": 0.2}, zipf=zipf)
        blocks = gen.make_blocks([(g, 500)], 4, 2, model)
        hits = Counter(c["pk"] for b in blocks for c in b[2] if c["op"] == "UPDATE")
        return sum(n for _, n in hits.most_common(10)) / sum(hits.values())

    assert top_share(1.3) > 10 * top_share(0.0)


def test_same_seed_same_inputs():
    assert _stream(11, 1.3)[0] == _stream(11, 1.3)[0]
    assert _stream(11, 1.3)[0] != _stream(12, 1.3)[0]


def test_reduced_counts_follow_the_fold():
    w = [
        {"table": "t", "pk": "a", "op": "CREATE"}, {"table": "t", "pk": "a", "op": "UPDATE"},
        {"table": "t", "pk": "b", "op": "UPDATE"}, {"table": "t", "pk": "b", "op": "UPDATE"},
        {"table": "t", "pk": "c", "op": "UPDATE"}, {"table": "t", "pk": "c", "op": "DELETE"},
        {"table": "t", "pk": "d", "op": "CREATE"}, {"table": "t", "pk": "d", "op": "DELETE"},
    ]
    assert gen.reduced_counts(w) == Counter({"INSERT_ROWS": 1, "UPDATE": 1, "DELETE": 2})


def test_jsonl_lines_split_blocks_without_losing_changes(tmp_path):
    blocks, _ = _stream(5, 0.0, n_blocks=3)
    gen.write_jsonl(blocks, str(tmp_path), blocks_per_file=2)
    msgs = [json.loads(line) for f in sorted(os.listdir(tmp_path)) for line in open(tmp_path / f)]
    assert all(len(m["table_changes"]) <= gen.JSONL_CHANGES_PER_LINE for m in msgs)
    got = [(m["block_num"], tc["pk"], tc["operation"]) for m in msgs for tc in m["table_changes"]]
    assert got == [(b[0], c["pk"], c["op"]) for b in blocks for c in b[2]]


def test_spool_file_round_trips_through_the_wire_codec(tmp_path):
    import pyarrow.parquet as pq

    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
        parse_database_changes,
    )

    blocks, _ = _stream(5, 0.0, n_blocks=2)
    # chunked encoding is byte-identical to encoding the block at once
    assert gen.encode_changes(blocks[0][2], chunk=7) == encode_database_changes(blocks[0][2])
    gen.write_spool(blocks[1:], str(tmp_path), 3)
    table = pq.read_table(tmp_path / "spool-00000003.parquet").to_pydict()
    assert table["block_num"] == [b[0] for b in blocks[1:]]
    decoded = parse_database_changes(table["value"][0])
    assert [(c["pk"], c["op"], c["fields"]) for c in decoded] == [
        (c["pk"], c["op"], c["fields"]) for c in blocks[1][2]
    ]


class _FakeFrame:
    """Stands in for a Spark DataFrame in ``state_matches``."""

    def __init__(self, cols, rows):
        self.pdf = pd.DataFrame(rows, columns=cols)

    def select(self, *cols):
        self.pdf = self.pdf[list(cols)]
        return self

    def toPandas(self):  # noqa: N802 (Spark's name)
        return self.pdf


def test_state_check_accepts_the_model_and_rejects_a_corrupted_one():
    _, model = _stream(9, 1.3)
    cols, rows = model.typed_rows("orders_b")
    assert workloads.state_matches(_FakeFrame(cols, rows), model, "orders_b") is None
    pk = next(iter(model.tables["orders_b"]))
    model.tables["orders_b"][pk]["price"] = "0.01"
    assert "hash" in workloads.state_matches(_FakeFrame(cols, rows), model, "orders_b")
    del model.tables["orders_b"][pk]
    assert "rows" in workloads.state_matches(_FakeFrame(cols, rows), model, "orders_b")


def test_stub_counts_statement_kinds_rows_and_bytes():
    stmts = [
        "INSERT INTO \"t\" (\"a\",\"b\") VALUES ('x),(y',1),('z''s',2),(NULL,3)",
        "ALTER TABLE \"t\" UPDATE \"a\"='q' WHERE \"id\" = 'k'",
        "DELETE FROM \"t\" WHERE \"id\" = 'k'",
        "ALTER TABLE \"cursors\" UPDATE \"cursor\"='c', \"block_num\"=1, \"block_id\"='b' WHERE \"id\" = 'm'",
    ]
    with stub_clickhouse.StubClickHouse() as stub:
        for sql in stmts:
            req = urllib.request.Request(f"http://127.0.0.1:{stub.port}/", data=sql.encode(), method="POST")
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 200
        got = stub.snapshot()
    assert got["statements"] == 4 and got["bytes"] == sum(len(s.encode()) for s in stmts)
    assert (got["INSERT"], got["INSERT_ROWS"], got["UPDATE"], got["DELETE"], got["CURSOR"]) == (1, 3, 1, 1, 1)


def test_fixture_tables_have_the_testdata_shapes(tmp_path):
    import pyarrow.parquet as pq

    gen.write_fixtures(1, str(tmp_path), sf=0.001)
    assert sorted(f[:-8] for f in os.listdir(tmp_path)) == sorted(workloads.ORACLE_TABLES)
    assert pq.read_schema(tmp_path / "orders.parquet").field("o_orderdate").type.unit == "us"
    assert pq.read_metadata(tmp_path / "lineitem.parquet").num_rows == 6000


def test_command_fails_on_a_corrupted_expectation():
    """The one command exits non-zero and reports the failure when the
    model disagrees with what the engine committed."""
    code = (
        "import sys, gen\n"
        "orig = gen.Model.typed_rows\n"
        "def bad(self, table):\n"
        "    cols, rows = orig(self, table)\n"
        "    return cols, rows[1:]\n"
        "gen.Model.typed_rows = bad\n"
        "import run\n"
        "sys.exit(run.main(['--workload', 'backfill', '--seed', '1', '--seconds', '1', '--trace', '0']))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900,
        env={**os.environ, "PYTHONPATH": os.pathsep.join([BENCH, ROOT])},
    )
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode != 0
    assert last["correct"] is False and last["failed"] >= 1
    assert "CHECK FAILED" in proc.stdout


def test_commit_shape_rebuilds_each_epoch_from_the_final_manifest(tmp_path):
    """The traced run sizes every commit after the run, from the final
    manifest's history; each epoch's figures must be what the store had
    written right after that epoch."""
    from spans import commit_shape

    wh = str(tmp_path)
    manifest = {"tables": {}, "applied_epochs": []}
    seen = []
    for epoch in range(3):
        vdir = os.path.join(wh, "t", f"v{epoch}", "__b=0")
        os.makedirs(vdir)
        open(os.path.join(vdir, "part-0.parquet"), "w").close()
        prior = manifest["tables"].get("t")
        if epoch < 2:  # a rewrite, then a sidecar layer on top of it
            bucket = vdir if epoch == 0 else {"files": [{"epoch": 0, "path": prior["buckets"]["0"]},
                                                        {"epoch": 1, "path": vdir}], "dv": None}
            buckets = {"0": bucket, "1": None}
        else:  # a rewrite folds the layers back into one path
            buckets = {"0": vdir, "1": None}
        history = prior["history"] + [{"epoch": prior["epoch"], "buckets": prior["buckets"]}] if prior else []
        manifest["tables"]["t"] = {"epoch": epoch, "buckets": buckets, "history": history, "n_buckets": 2}
        manifest["applied_epochs"].append(epoch)
        manifest.setdefault("epoch_blocks", {})[str(epoch)] = 10 + epoch
        with open(os.path.join(wh, "manifest.json"), "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        seen.append(os.path.getsize(os.path.join(wh, "manifest.json")))
    final = json.loads(open(os.path.join(wh, "manifest.json"), encoding="utf-8").read())
    shapes = [commit_shape(wh, e, final) for e in range(3)]
    assert [s["manifest_bytes"] for s in shapes] == seen
    assert [s["layers_per_bucket"] for s in shapes] == [1, 2, 1]
    assert [s["files_written"] for s in shapes] == [1, 1, 1]
