"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (``build.py``), generates the workload's inputs from
the seed, runs the timed phase in a fresh JVM on ``local[nproc]`` as a
closed loop with one client, checks the outputs, and prints one JSON
summary line (workload, seed, ok, artifact path, the workload's named
metrics) and then, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a traced replay of the
same rounds. The full artifact is written to ``.bench_build/artifacts/``.

Sizes and per-workload parameters live in ``perfbench/workloads.json``.
Exit status: 0 when the outputs are correct, 1 when a check failed, 2 on
a usage, build or run error (no result line is printed then).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(HERE))
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path: Path) -> dict:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")


def run_jvm(cmd: list, work: Path, log: Path) -> int:
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work,
                                env=build.jvm_env(work), start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def jvm_args(workload: str, seed: int, seconds: float, trace: int, work: Path,
             artifact: Path, result: Path, sizes: dict, mode: str = "run") -> list:
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--artifact", str(artifact),
            "--result", str(result), "--master", f"local[{build.cpus()}]", "--mode", mode]
    for k, v in sizes.items():
        args += ["--size", f"{k}={v}"]
    return args


def execute(workload: str, seed: int, seconds: float, trace: int, sizes: dict,
            mode: str = "run", keep_log: bool = False) -> tuple:
    """Build if needed, run the JVM, return (result dict, artifact path)."""
    try:
        classpath, cds = build.build()
    except build.BuildError as e:
        fail(str(e))
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = build.BUILD / "runs" / f"{tag}-{os.getpid()}"
    artifacts = build.BUILD / "artifacts"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    artifacts.mkdir(parents=True, exist_ok=True)
    artifact = artifacts / f"{tag}.json"
    result = work / "result.json"
    log = artifacts / f"{tag}.log"
    try:
        rc = run_jvm(build.jvm_command(classpath, work, jvm_args(
            workload, seed, seconds, trace, work, artifact, result, sizes, mode), cds), work, log)
        if rc != 0 or not result.exists():
            tail = log.read_text(errors="replace").splitlines()[-25:]
            fail(f"run failed (exit {rc}); log {log}:\n" + "\n".join(tail))
        out = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not keep_log:
        log.unlink(missing_ok=True)
    return out, artifact


def collect(spec: dict, wl: dict, workload: str, trace: int, res: dict) -> tuple:
    """The result line's metrics from a run's result, and the problems with
    them. Untraced, every end-to-end metric must be a positive number.
    Traced, each of the workload's own layer metrics (its ``layers`` in
    workloads.json) must be present, and positive unless it is a time (a
    layer's time less its input's can round to 0); the runtime metrics
    (``spark.*``, ``trace.*``) must be present; a layer the workload does
    not use reads 0."""
    own = set(wl["workloads"][workload]["layers"])
    got = res["metrics"]
    metrics, problems = {}, []
    for m in spec["per_layer"] if trace else spec["end_to_end"]:
        name = m["name"]
        v = got.get(name, {}).get("value")
        runtime = name.split(".")[0] in ("spark", "trace")
        if trace and v is None and not runtime and name not in own:
            v = 0.0  # the layer does no work on this workload
        finite = isinstance(v, (int, float)) and math.isfinite(v)
        if not trace or (name in own and m["unit"] != "s"):
            bad = finite and v <= 0
        else:
            bad = finite and v < 0 and name in own
        if not finite or bad:
            problems.append(f"metric {name} missing or not positive: {v}")
        metrics[name] = {"value": v if finite else 0.0, "unit": m["unit"]}
    return metrics, problems


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_json(ROOT / "BENCHMARK.json")
    wl = load_json(HERE / "workloads.json")
    if a.workload not in wl["workloads"]:
        fail(f"unknown workload {a.workload}; one of {sorted(wl['workloads'])}")
    sizes = build.sizes(a.workload)
    t0 = time.time()
    res, artifact = execute(a.workload, a.seed, a.seconds, a.trace, sizes)

    metrics, problems = collect(spec, wl, a.workload, a.trace, res)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    correct = bool(res["correct"]) and not problems
    named = {k: round(v["value"], 6) for k, v in res.get("workload_metrics", {}).items()
             if isinstance(v.get("value"), (int, float))}
    summary = {"workload": a.workload, "seed": a.seed, "ok": correct,
               "artifact": str(artifact.relative_to(ROOT)),
               "wall_s": round(time.time() - t0, 1), "workload_metrics": named}
    for f in res.get("failures", []):
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(summary)[:1024])
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
