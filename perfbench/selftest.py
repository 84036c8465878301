"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks, at a tiny input size:
  1. the same seed gives identical input checksums, for every workload;
  2. a different seed gives different checksums, for every workload;
  3. a smoke run of every workload, untraced and traced, passes its
     correctness checks and reports every metric of BENCHMARK.json that
     applies to it (``run.collect``).
Exits 0 when every test passes.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

TINY = {"scale": 0.02}


def checksums(workload: str, seed: int) -> dict:
    res, _ = run.execute(workload, seed, 0, 0, dict(build.sizes(workload), **TINY), mode="inputs")
    return res


def main() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    wl = json.loads((HERE / "workloads.json").read_text())
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        a, b, c = checksums(name, 11), checksums(name, 11), checksums(name, 12)
        expect(bool(a) and a == b, f"{name}: same seed, identical input checksums ({len(a)} datasets)")
        expect(all(a[k] != c.get(k) for k in a), f"{name}: different seed, different checksums")
        for trace in (0, 1):
            res, _ = run.execute(name, 11, 1, trace, dict(build.sizes(name), **TINY))
            _, problems = run.collect(spec, wl, name, trace, res)
            expect(res["correct"] and not problems,
                   f"{name}: tiny smoke run, trace {trace}, correct "
                   f"(failures {res.get('failures')}, metrics {problems})")
    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
