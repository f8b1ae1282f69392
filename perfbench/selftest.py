#!/usr/bin/env python3
"""Self-test of the benchmark's inputs and checker.

Run from the root of a checkout of the program:

    python3 perfbench/selftest.py          # inputs and checker, seconds
    python3 perfbench/selftest.py --full   # plus one short ask run with an
                                           # injected wrong answer (~1 min)

Checks that equal seeds give byte-identical inputs and request streams,
that different seeds give different ones, that the record comparison
rejects wrong answers, and (``--full``) that a wrong answer in a real
run makes the run report ``correct: false`` with a failed request.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import check
import gen

ROOT = os.getcwd()


def _inputs_are_seeded(tmp: str) -> None:
    a = gen.write_tpch_parquet(os.path.join(tmp, "a"), 0.002, 5)
    b = gen.write_tpch_parquet(os.path.join(tmp, "b"), 0.002, 5)
    c = gen.write_tpch_parquet(os.path.join(tmp, "c"), 0.002, 6)
    assert a == b, "same seed, different parquet inputs"
    assert a["lineitem"] != c["lineitem"], "seed does not reach the data"

    dbs = [os.path.join(tmp, f"{k}.db") for k in ("a", "b", "c")]
    ea = gen.write_sqlite(dbs[0], 3000, 5)
    eb = gen.write_sqlite(dbs[1], 3000, 5)
    gen.write_sqlite(dbs[2], 3000, 6)
    assert gen.file_digest(dbs[0]) == gen.file_digest(dbs[1])
    assert ea == eb
    assert gen.file_digest(dbs[0]) != gen.file_digest(dbs[2])
    assert gen.merge_batches(ea, 5) == gen.merge_batches(eb, 5)

    entries = ["cypher_smoke", "cypher_status_counts"]
    assert gen.ask_requests(5, entries) == gen.ask_requests(5, entries)
    assert gen.ask_requests(5, entries) != gen.ask_requests(6, entries)
    kinds = [r["kind"] for r in gen.ask_requests(5, entries)]
    for block in range(0, len(kinds), gen.BLOCK_SIZE):
        tail = kinds[block + gen.BLOCK_SIZE - gen.BLOCK_RCA: block + gen.BLOCK_SIZE]
        assert kinds[block: block + gen.BLOCK_SIZE].count("rca") == gen.BLOCK_RCA
        assert tail == ["rca"] * gen.BLOCK_RCA
    algos, names = ["g1", "g2"], ["q1", "q2", "q3"]
    picks = {gen.registry_extra(s, algos, names) for s in range(12)}
    assert picks == {*algos, *names}, "seeds must walk every analytics call"


def _checker_rejects_wrong_answers() -> None:
    want = [{"name": "a", "revenue": 1.5}, {"name": "b", "revenue": 2.0}]
    assert check.diff(list(reversed(want)), want) is None
    assert check.diff([{"name": "a", "revenue": 1.5 + 1e-12}, want[1]], want) is None
    assert check.diff([{"name": "a", "revenue": 1.6}, want[1]], want)
    assert check.diff(want[:1], want)
    assert check.diff([{"nom": "a", "revenue": 1.5}, want[1]], want)
    assert check.diff([{"name": "a", "revenue": None}, want[1]], want)


def _wrong_answer_fails_a_run() -> None:
    out = subprocess.run(
        [
            sys.executable, os.path.join("perfbench", "run.py"),
            "--workload", "ask", "--seed", "1", "--seconds", "1",
            "--trace", "0", "--inject-wrong",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1, result


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        _inputs_are_seeded(tmp)
        _checker_rejects_wrong_answers()
        if "--full" in sys.argv[1:]:
            _wrong_answer_fails_a_run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
