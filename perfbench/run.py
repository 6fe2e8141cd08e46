"""Host-true benchmark of the package: one client, closed loop, fresh JVM per run.

    python3 perfbench/run.py --workload reference_pipeline --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Every file it writes goes under the
checkout's ``.perfbench/``. With ``--trace 0`` it reports the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` the per-layer metrics; either
way the last stdout line is one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import importlib.metadata
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

# the benchmark's modules, and the package (imported only to build oracles)
sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path(__file__).resolve().parent.parent)]

from workloads import (  # noqa: E402
    BENCH_DIR,
    FIXTURE_DIR,
    PACKAGE,
    PIPELINE_EXPORT,
    PIPELINE_MARTS,
    PIPELINE_SANITY,
    WORKLOADS,
    op_order,
    warm_passes,
)

ROOT = BENCH_DIR.parent
STATE = ROOT / ".perfbench"
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 170


class BenchError(RuntimeError):
    """A run that cannot produce a result."""


# --- inputs --------------------------------------------------------------------


def check_inputs() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise BenchError(f"package {PACKAGE}/ not found next to perfbench/")
    sums = FIXTURE_DIR / "SHA256SUMS"
    for line in sums.read_text().splitlines():
        digest, name = line.split()
        data = (FIXTURE_DIR / name).read_bytes()
        if hashlib.sha256(data).hexdigest() != digest:
            raise BenchError(f"fixture {name} does not match SHA256SUMS")


def source_digest(paths) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def expectations(package_sha: str) -> dict:
    """DuckDB-oracle expectations, built once per checkout (see oracle.py)."""
    key = source_digest([*BENCH_DIR.glob("*.py"), FIXTURE_DIR / "SHA256SUMS"])
    path = STATE / f"oracle-{package_sha}-{key}-duckdb{importlib.metadata.version('duckdb')}.json"
    if not path.exists():
        from oracle import build

        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(build(), sort_keys=True))
        tmp.replace(path)
    return json.loads(path.read_text())


def worker_env() -> dict:
    env = dict(os.environ)
    tmp = STATE / "tmp"
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(STATE / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
        ),
    )
    # -XX:-UsePerfData: each JVM (the launcher's too) would otherwise write
    # /tmp/hsperfdata_<user>.
    local = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = f"{env.get('SPARK_LAUNCHER_OPTS', '')} {local}".strip()
    env["SPARK_SUBMIT_OPTS"] = (
        f"{env.get('SPARK_SUBMIT_OPTS', '')} {local} -Xms{DRIVER_MEMORY}".strip()
    )
    return env


# --- the measured process ------------------------------------------------------


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, its Python workers) re-parent to this
    process, so it can wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_group(pgid: int, grace_s: float = 30.0) -> None:
    """Wait until no process of the worker's group is left; SIGKILL after the
    grace period."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if not killed and time.monotonic() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_worker(spec: dict, env: dict, log_path: Path) -> tuple[dict, float]:
    spec_path = STATE / "runs" / f"spec-{os.getpid()}.json"
    spec_path.write_text(json.dumps(spec))
    Path(spec["out"]).unlink(missing_ok=True)
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(BENCH_DIR / "worker.py"), str(spec_path)],
            cwd=STATE / "cwd", env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = None
        finally:
            _reap_group(proc.pid)
    spec_path.unlink()
    out = Path(spec["out"])
    if code != 0 or not out.exists():
        tail = log_path.read_text()[-3000:]
        raise BenchError(f"worker exited with {code}; log tail:\n{tail}")
    raw = json.loads(out.read_text())
    out.unlink()
    return raw, t_spawn


# --- correctness -----------------------------------------------------------------


def pipeline_problems(obs: dict, exp: dict) -> list[str]:
    q = exp["queries"]
    probs = []
    for name in PIPELINE_SANITY:
        if obs["sanity"].get(name) != q[name]:
            probs.append(f"sanity {name}: {obs['sanity'].get(name)} != {q[name]}")
    if obs["cleaned_rows"] != exp["cleaned_rows"]:
        probs.append(f"cleaned_rows {obs['cleaned_rows']} != {exp['cleaned_rows']}")
    for group, names in (("analytics", exp["analytics"]), ("marts", PIPELINE_MARTS)):
        for name in names:
            if obs[group].get(name) != q[name]["rows"]:
                probs.append(f"{group} {name}: {obs[group].get(name)} != {q[name]['rows']}")
    ex, got = exp["export"], obs["export"]
    if got["columns"] != ex["columns"]:
        probs.append(f"export header {got['columns']} != {ex['columns']}")
    elif len(got["rows"]) != q[PIPELINE_EXPORT]["rows"]:
        probs.append(f"export rows {len(got['rows'])} != {q[PIPELINE_EXPORT]['rows']}")
    else:
        for i in ex["exact_columns"]:
            col = ex["columns"][i]
            if sorted(r[i] for r in got["rows"]) != ex["values"][col]:
                probs.append(f"export column {col} differs from the oracle")
    return probs


def op_problems(op: dict, exp: dict) -> list[str]:
    if op["error"]:
        return [op["error"]]
    if op["op"] == "run_pipeline":
        return pipeline_problems(op["observed"], exp)
    want = exp["queries"][op["op"]]
    return [] if op["observed"] == want else [f"{op['observed']} != oracle {want}"]


# --- report ----------------------------------------------------------------------


def stamp(args, raw: dict, env: dict, package_sha: str) -> dict:
    commit = None
    if (ROOT / ".git").exists():
        git = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        commit = git.stdout.strip() or None
    return {
        **raw["stamp"],
        "duckdb": importlib.metadata.version("duckdb"),
        "git_commit": commit,
        "package_sha256": package_sha,
        "workload": args.workload,
        "seed": args.seed,
        "ops": op_order(args.workload, args.seed),
        "spark_graft_env": {k: v for k, v in sorted(env.items()) if k.startswith("SPARK_GRAFT_")},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_file = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec_file["per_layer"] if args.trace else spec_file["end_to_end"]
    try:
        check_inputs()
        for sub in ("cwd", "tmp", "runs", "logs", "spark-local"):
            (STATE / sub).mkdir(parents=True, exist_ok=True)
        env = worker_env()
        package_sha = source_digest((ROOT / PACKAGE).rglob("*.py"))
        expected = expectations(package_sha)
        _become_subreaper()
        spec = {
            "workload": args.workload,
            "kind": WORKLOADS[args.workload]["kind"],
            "ops": op_order(args.workload, args.seed),
            "fixture": str(FIXTURE_DIR),
            "state": str(STATE),
            "trace": bool(args.trace),
            "warm_passes": warm_passes(args.workload, args.seconds),
            "out": str(STATE / "runs" / f"result-{os.getpid()}.json"),
        }
        log = STATE / "logs" / f"{args.workload}-{args.seed}-{args.trace}.log"
        steal0, total0 = host_cpu_ticks()
        raw, t_spawn = run_worker(spec, env, log)
        steal1, total1 = host_cpu_ticks()
        # CPU the hypervisor gave to other guests during the run: a slow run
        # with high steal is host contention, not the code.
        raw["stamp"]["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    attempted = failed = 0
    for p in raw["passes"]:
        for op in p["ops"]:
            attempted += 1
            probs = op_problems(op, expected)
            if probs:
                failed += 1
                print(f"FAIL pass {p['mode']} {op['op']}: {'; '.join(probs)[:800]}")

    walls = {mode: [p["wall_s"] for p in raw["passes"] if p["mode"] == mode]
             for mode in ("cold", "warm")}
    values = {
        "setup_s": raw["t_ready"] - t_spawn,
        "first_pass_s": walls["cold"][0],
        "pass_s": statistics.median(walls["warm"]),
        "jvm_peak_rss_mb": raw["jvm_peak_rss_mb"],
    }
    if args.trace:
        traced = next(p for p in raw["passes"] if p["mode"] == "traced")
        values = {
            "session.get_spark_s": raw["get_spark_s"],
            "session.first_job_s": raw["first_job_s"],
            **traced["layers"],
            "trace.pass_s": traced["wall_s"],
            "trace.untraced_pass_s": statistics.mean(walls["warm"]),
            "trace.overhead_s": traced["wall_s"] - statistics.mean(walls["warm"]),
        }
    print("stamp", json.dumps(stamp(args, raw, env, package_sha), sort_keys=True))
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"fail_frac={failed / attempted} ({failed}/{attempted} operations)")
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"  {m['name']:<40} {values[m['name']]:>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
