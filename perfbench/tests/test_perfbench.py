"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Run from the root of a checkout.  The smoke runs start Spark and take a
few minutes; the spec and input checks take seconds.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(*args, cwd=ROOT):
    # A session started by an earlier test exported PYTHONPATH; the
    # benchmark must find the program through its working directory alone.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # Output goes to files, not pipes: reading a pipe to its end would also
    # wait for every child that inherited it, and hide one left running.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), *args],
            cwd=cwd, env=env, stdout=out, stderr=err, timeout=900,
        ).returncode
        out.seek(0)
        err.seek(0)
        return code, out.read(), err.read()


def left_running() -> list[int]:
    """Processes whose command line names the benchmark's work directory,
    as the JVM's options do."""
    marker = os.path.join(ROOT, ".perfbench_work").encode()
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if marker in f.read():
                        pids.append(int(name))
            except OSError:
                pass
    return pids


def test_metric_names_and_units():
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in s["end_to_end"] + s["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in s["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in s["end_to_end"])


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_same_seed_gives_identical_mix_tables(tmp_path):
    from inputs import write_mix_tables

    a = write_mix_tables(7, 0.001, str(tmp_path / "a"))
    b = write_mix_tables(7, 0.001, str(tmp_path / "b"))
    c = write_mix_tables(8, 0.001, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_same_seed_gives_identical_chain_inputs(tmp_path):
    os.chdir(ROOT)
    import common
    from batch_chain import SIZES
    from inputs import write_chain_inputs

    assert common.program_importable()
    spark, _ = common.start_session(2)
    try:
        runs = []
        for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
            os.makedirs(tmp_path / sub)
            write_chain_inputs(spark, seed, SIZES["tiny"], str(tmp_path / sub))
            runs.append(_digest(str(tmp_path / sub)))
    finally:
        common.shutdown()
    assert runs[0] == runs[1] != runs[2]


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke(workload, trace):
    code, out, err = run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                               "--trace", trace, "--size", "tiny")
    assert code == 0, err[-3000:]
    assert left_running() == []
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    s = spec()
    expected = s["per_layer"] if trace == "1" else s["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        if trace == "0":
            assert got["value"] > 0, m["name"]


def test_emptied_sim_table_fails_the_stream():
    code, out, err = run_bench("--workload", "chain_stream", "--seed", "3", "--seconds", "1",
                               "--size", "tiny", "--fault", "empty_sims")
    assert code == 0, err[-3000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert not result["correct"] and result["failed"] > 0


def test_without_the_program_exits_nonzero(tmp_path):
    code, out, _ = run_bench("--workload", "query_mix", "--seed", "1", "--seconds", "1",
                             cwd=str(tmp_path))
    assert code != 0
    assert out.strip() == ""
