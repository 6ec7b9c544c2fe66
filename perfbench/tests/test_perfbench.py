"""Self-tests of the benchmark: generator determinism, the output checkers
(each must reject a planted wrong output), and a tiny end-to-end run of
every workload whose printed metric names must match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus as C  # noqa: E402
import workloads as W  # noqa: E402

TINY = {"image_curate": 600, "neardup_dedup": 2_000}


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("corpus"))


def _corpus(name: str, cache: str, seed: int = 5) -> C.Corpus:
    wl = W.WORKLOADS[name]
    return C.load_or_generate(wl.kind, seed, TINY[name], cache)


@pytest.mark.parametrize("kind", sorted(C.GENERATORS))
def test_generator_is_deterministic_per_seed(kind):
    a_table, a_truth = C.GENERATORS[kind](11, 1_000)
    b_table, b_truth = C.GENERATORS[kind](11, 1_000)
    c_table, _ = C.GENERATORS[kind](12, 1_000)
    assert a_table.equals(b_table)
    assert a_truth == b_truth
    assert not a_table.equals(c_table)


def test_neardup_gate_shares_follow_baseline():
    table, truth = C.gen_neardup(3, 20_000)
    # BASELINE: URLFilter passes 98.1%, TextLengthFilter 96.4% of the rest
    assert 0.015 < truth["gate"]["url_dropped"] / truth["n_in"] < 0.025
    assert 0.025 < truth["gate"]["length_dropped"] / truth["n_in"] < 0.045
    texts = table.column("text").to_pylist()
    hit = sum(any(w in t.split() for w in C.SPAM_WEIGHTS) for t in texts)
    assert 0.03 < hit / len(texts) < 0.05


def test_neardup_clusters_are_small_and_planted():
    _, truth = C.gen_neardup(4, 5_000)
    assert truth["exact_dropped"] and truth["near_dropped"]
    assert not set(truth["kept"]) & set(truth["exact_dropped"])
    assert not set(truth["kept"]) & set(truth["near_dropped"])


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _input(c: C.Corpus) -> pa.Table:
    return pq.read_table(c.parquet)


def _select(table: pa.Table, ids) -> pa.Table:
    return table.filter(pa.compute.is_in(table.column("doc_id"), pa.array(sorted(ids), pa.int64())))


def test_neardup_checker(cache, tmp_path):
    c = _corpus("neardup_dedup", cache)
    table = _input(c)
    t = c.truth
    every = set(table.column("doc_id").to_pylist())

    def case(name, out_ids):
        out = str(tmp_path / name)
        _write(W.output_dir(out), _select(table, out_ids))
        _write(W.rejected_dir(out), _select(table, every - set(out_ids)))
        return W.check_neardup(c, out, 5)

    assert case("good", t["kept"]) == []
    assert case("one_row_dropped", t["kept"][1:])
    assert case("duplicate_kept", t["kept"] + t["exact_dropped"][:1])
    assert case("near_dups_kept", t["kept"] + t["near_dropped"])


def test_image_checker(cache, tmp_path):
    c = _corpus("image_curate", cache)
    table = _input(c)
    bl = set(c.truth["blocklist"])
    rows = []
    for r in table.select(["doc_id", "text"]).to_pylist():
        e = C.image_expectation(r["text"])
        if C.image_passes(e, bl):
            e["image_resized_bytes"] = bytes.fromhex(e["image_resized_bytes"])
            rows.append({"doc_id": r["doc_id"], "text": r["text"], **{k: e[k] for k in W.IMAGE_COLUMNS}})
    out = pa.Table.from_pylist(rows)
    good = str(tmp_path / "good")
    _write(W.output_dir(good), out)
    assert W.check_image(c, good, 5) == []
    dropped = str(tmp_path / "dropped")
    _write(W.output_dir(dropped), out.slice(1))
    assert W.check_image(c, dropped, 5)
    wrong = str(tmp_path / "wrong_value")
    widths = out.column("image_width").to_numpy().copy()
    widths[:] += 1
    _write(W.output_dir(wrong), out.set_column(out.schema.get_field_index("image_width"), "image_width", pa.array(widths)))
    assert W.check_image(c, wrong, 5)


def _run(workload: str, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_tiny_run_is_correct_and_prints_declared_metrics(workload):
    rc, result = _run(workload, 0)
    assert rc == 0, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    assert set(result["metrics"]) == _declared("end_to_end")
    assert all(np.isfinite(m["value"]) and m["value"] > 0 for m in result["metrics"].values())


def test_tiny_traced_run_prints_declared_layers():
    rc, result = _run("neardup_dedup", 1)
    assert rc == 0, result
    assert result["correct"]
    assert set(result["metrics"]) == _declared("per_layer")
    assert result["metrics"]["spark.shuffle_write_mb"]["value"] > 0
