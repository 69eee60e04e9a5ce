"""Self-tests of the benchmark harness at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run ``perfbench/run.py`` as a subprocess with
``--scale tiny --seconds 1`` (each launches Spark, so the file takes a few
minutes); the input and model tests run without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import batch  # noqa: E402
import gen  # noqa: E402
import run as runmod  # noqa: E402
import serve  # noqa: E402


def bench(*args: str, cwd: str = ROOT, timeout: int = 600) -> tuple[int, list[dict], str]:
    """Run the benchmark; returns (exit code, result lines, stderr tail)."""
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=timeout)
    results = [json.loads(line) for line in p.stdout.splitlines()
               if line.startswith('{"correct"')]
    return p.returncode, results, p.stderr[-2000:]


# -- inputs ---------------------------------------------------------------------


def _digest(path: str) -> dict:
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(path))}


def test_one_seed_gives_identical_tables(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, 0.001, 0.002)
    gen.write_tables(str(tmp_path / "b"), 5, 0.001, 0.002)
    gen.write_tables(str(tmp_path / "c"), 6, 0.001, 0.002)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_one_seed_gives_identical_requests_and_documents():
    reqs = [gen.serve_requests(3, 0, 40, 200, 5.0) for _ in range(2)]
    assert reqs[0] == reqs[1]
    assert reqs[0] != gen.serve_requests(4, 0, 40, 200, 5.0)
    assert gen.serve_rows(3, 40, 10) == gen.serve_rows(3, 40, 10)
    docs = [gen.documents(gen._rng(3, "ingest"), 300) for _ in range(2)]
    assert docs[0] == docs[1]
    assert [d[0] for d in docs[0]] == list(range(300))  # ascending ids


def test_request_mix_is_exact_and_on_schedule():
    reqs = gen.serve_requests(1, 0, 40, 100, 5.0, (0.8, 0.12, 0.08))
    ops = [r["op"] for r in reqs]
    assert (ops.count("scan"), ops.count("kv"), ops.count("post")) == (80, 12, 8)
    assert all(0 < r["due"] < 100 / 5.0 for r in reqs)
    posted = [row["ts_ms"] for r in reqs if r["op"] == "post" for row in r["rows"]]
    assert len(posted) == len(set(posted))


# -- the serve model check ------------------------------------------------------


def _res(req, payload, t_send, t_recv, status=200):
    return {"req": req, "status": status, "payload": payload,
            "t_send": t_send, "t_recv": t_recv}


def test_model_accepts_before_or_after_a_write_and_rejects_half():
    rows = gen.serve_rows(1, 3, 4)
    model = serve.Model(rows)
    base = [r for r in rows if r["user_id"] == 1]
    post = {"op": "post", "key": 1, "rows": [
        {"user_id": 1, "ts_ms": 9_000_000_000_000 + j, "cents": j, "tag": "post"} for j in range(2)]}
    model.add_post(_res(post, {"upserted": 2}, 1.0, 2.0))
    kv = {"op": "kv", "key": 1}
    assert model.check(_res(kv, base, 1.5, 1.6)) is None  # overlaps: before
    assert model.check(_res(kv, base + post["rows"], 1.5, 2.5)) is None  # overlaps: after
    assert "half" in model.check(_res(kv, base + post["rows"][:1], 1.5, 2.5))
    assert "missing" in model.check(_res(kv, base, 3.0, 3.1))  # write was committed
    assert "unexpected" in model.check(_res(kv, base + post["rows"], 0.1, 0.2))
    assert "missing" in model.check(_res(kv, base[1:], 0.1, 0.2))
    assert "404" in model.check(_res(kv, {"error": "x"}, 0.1, 0.2, status=404))


# -- a defect of the program that keeps text_winnow_fps out of the workload ----


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="text_winnow_fps digests the empty fingerprint "
                   "list of a document under 10 characters as md5(''); its oracle yields NULL")
def test_known_defect_winnow_on_short_documents(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from affinity_spark import get_spark

    data = str(tmp_path)
    gen.write_tables(data, 5, 0.001, 0.002)
    texts = ["a big dup", "the row key value table column query"]
    pq.write_table(pa.table({
        "doc_id": pa.array([0, 1], pa.int64()), "text": texts, "lang": ["en", "en"],
        "source": ["src0", "src1"], "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data, "documents.parquet"))
    expect = batch.oracle_hashes(data, ["text_winnow_fps"])["text_winnow_fps"]
    spark = get_spark("perfbench-selftest", master="local[2]")
    try:
        import __spark_entry__ as entry

        df = entry.queries()["text_winnow_fps"](spark, data)
        assert batch.check(df, expect, batch._verify_local().frame_hash) is None
    finally:
        spark.stop()


# -- end to end -----------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted_with_its_unit(trace):
    code, results, err = bench("--workload", "all", "--seed", "3", "--seconds", "1",
                               "--trace", str(trace), "--scale", "tiny")
    assert code == 0, err
    assert len(results) == len(runmod.WORKLOADS)
    names = runmod.END_TO_END if not trace else runmod.layer_names()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["end_to_end" if not trace else "per_layer"]}
    assert set(units) == set(names)
    for res in results:
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert set(res["metrics"]) == set(names)
        for name, m in res["metrics"].items():
            assert m["unit"] == units[name]
            assert isinstance(m["value"], (int, float))
        if not trace:
            assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload,inject", [("batch", "wrong-hash"),
                                             ("serve_rw", "bad-request"),
                                             ("ingest_stream", "wrong-verdict")])
def test_injected_fault_counts_as_failed(workload, inject):
    code, results, err = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                               "--scale", "tiny", "--inject", inject)
    assert code != 0
    (res,) = results
    assert not res["correct"]
    assert res["failed"] >= 1 and res["attempted"] > res["failed"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, results, err = bench("--workload", "batch", "--seed", "1", "--seconds", "1",
                               cwd=str(tmp_path), timeout=120)
    assert code != 0 and not results
    assert "not a checkout" in err
