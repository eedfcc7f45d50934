"""Self-tests of the benchmark itself (not of the library).

    python3 bench/selftest.py

1. The generator is deterministic: the same seed gives the same input
   digests, a different seed gives different ones.
2. BENCHMARK.json is what `run.py --write-manifest` would write, and a run
   prints exactly its metric names: the end-to-end ones with `--trace 0`,
   the per-layer ones with `--trace 1`.
3. A corrupted output makes the command exit non-zero with
   `"correct": false`.

Parts 2 and 3 run the `curation` workload three times (a few minutes).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

FAILURES = []


def check(name, ok, detail=""):
    print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}")
    if not ok:
        FAILURES.append(name)


def digests(kind, seed, size, where):
    out = os.path.join(where, f"{kind}-{seed}-{size}")
    gen.generate(kind, seed, size, out)
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)["digests"]


def test_generator():
    os.makedirs(run.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=run.BUILD, prefix="selftest-")
    try:
        for kind, size in [("behavior", 4000), ("corpus", 200)]:
            a = digests(kind, 5, size, os.path.join(tmp, "a"))
            b = digests(kind, 5, size, os.path.join(tmp, "b"))
            c = digests(kind, 6, size, os.path.join(tmp, "c"))
            check(f"{kind}: same seed, same digests", a == b)
            check(f"{kind}: other seed, other digests",
                  all(a[t] != c[t] for t in a), f"tables={sorted(a)}")
    finally:
        shutil.rmtree(tmp)


def bench(workload, trace, env=None):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       env={**os.environ, **(env or {})}, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-1]) if lines else None


def test_manifest_and_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        check("BENCHMARK.json matches run.py", json.load(f) == run.manifest())
    for trace, names in [(0, [m[0] for m in run.END_TO_END]), (1, [m[0] for m in run.PER_LAYER])]:
        code, res = bench("curation", trace)
        got = sorted((res or {}).get("metrics", {}))
        check(f"trace {trace}: exit 0 and correct", code == 0 and bool(res and res["correct"]),
              f"exit={code}")
        check(f"trace {trace}: printed metric names match BENCHMARK.json", got == sorted(names))


def test_corrupt_output():
    code, res = bench("curation", 0, {"PERFBENCH_CORRUPT": "probe_folded.parquet"})
    check("corrupted output: non-zero exit, correct false",
          code != 0 and res is not None and res["correct"] is False and res["failed"] > 0,
          f"exit={code}")


if __name__ == "__main__":
    test_generator()
    test_manifest_and_names()
    test_corrupt_output()
    sys.exit(1 if FAILURES else 0)
