#!/usr/bin/env python3
"""graft benchmark: batch workloads timed cold and warm, checked by
full-output fingerprints.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
with sbt (offline) into the checkout and generates the input data into
graftbench/.data; later runs reuse both while their sources are
unchanged (a replica is generated once per seed, which sets its row
order). Each run starts one JVM (local[nproc], heap from the machine's
memory), writes its artifacts to graftbench/.runs/, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

`--record 1` rewrites graftbench/expected/<workload>.tsv from the run's
fingerprints (see NOTES.md for how they were checked).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
SBT_TIMEOUT_S = 850
DATA_SEED = 42

# data set -> how to make it: ("base", sf) or ("replicate", source, factor)
DATA = {
    "sf0.1": ("base", 0.1),
    "sf0.01": ("base", 0.01),
    "x4": ("replicate", "sf0.01", 4),
    "x10": ("replicate", "sf0.1", 10),  # scale_record.py only
}

WORKLOADS = {
    "etl_read_sf01": ("sf0.1", [
        "q_scan_range", "q_filter_regex", "q_join_semi", "q_group_agg",
        "q_window_ratio", "q_union", "q_scalar_math", "q_sql_subquery",
        "q_tpch_q6", "s_tumbling"]),
    "etl_write_x4": ("x4", ["q_etl_compact", "q_etl_bulkload", "q_cdc_merge"]),
    "llm_x4": ("x4", ["x_dedup_contain", "x_dedup_cluster", "x_audio_decode"]),
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "heap_live_peak_mb": "MB"}


def layer_unit(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "frac"), ("_skew", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    out = BENCH / ".build"
    stamp = source_stamp()
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp:
        return stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    out.mkdir(exist_ok=True)
    with open(out / "sbt.log", "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=SBT_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write((out / "sbt.log").read_text()[-3000:])
        fail("build failed")
    (out / "stamp").write_text(stamp)
    return stamp


def data_dir(name, seed):
    """Generate a data set once per checkout and seed, and reuse it after.
    Base tables use a fixed seed; a replica's row order comes from the run
    seed, which no query result depends on. meta.json records the
    generation time and row counts."""
    spec = DATA[name]
    replica = spec[0] == "replicate"
    seed = seed if replica else DATA_SEED
    root = BENCH / ".data"
    path = root / (f"{name}-seed{seed}" if replica else name)
    if (path / "meta.json").exists():
        return path
    src = data_dir(spec[1], seed) if replica else None
    tmp = root / f".tmp-{path.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    if replica:
        rows = gen.write_replica(src, tmp, spec[2], seed)
    else:
        gen.write_base(tmp, spec[1], seed)
        rows = None
    meta = {"spec": list(spec), "seed": seed, "gen_s": time.time() - t0, "rows": rows}
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    return path


def cpu_times():
    """Machine-wide jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal ..., so a run can record the steal share it saw."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def heap_size():
    """The Tier-1 formula: half of physical memory, clamped to 2-8 GiB."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(workload, data_name, queries, seed, seconds, trace, record, run_dir,
            timeout=JVM_TIMEOUT_S):
    data = data_dir(data_name, seed)
    cpus = len(os.sched_getaffinity(0))
    launch = BENCH / ".build"
    opts = [o for o in (launch / "javaopts").read_text().split("\n") if o and not o.startswith("-Xmx")]
    work = run_dir / "work"
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *opts, f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", (launch / "classpath").read_text(), "graftbench.Main",
           "--workload", workload, "--data", str(data), "--queries", ",".join(queries),
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--expected", str(BENCH / "expected" / f"{workload}.tsv"),
           "--out", str(run_dir / "result.json"), "--record", "1" if record else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(work / "local"),
               SPARK_SCALA_VERSION="2.13")
    cpu0 = cpu_times()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not (run_dir / "result.json").exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
        fail(f"JVM run failed ({rc}); log in {run_dir / 'jvm.log'}")
    result = json.loads((run_dir / "result.json").read_text())
    result["data"] = json.loads((data / "meta.json").read_text())
    busy = [b - a for a, b in zip(cpu0, cpu_times())]
    result["env"]["cpu_steal_frac"] = busy[7] / max(1, sum(busy[:8]))
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no graft sources under {ROOT}; run from a full checkout")

    stamp = build()
    run_dir = BENCH / ".runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    r = run_jvm(a.workload, *WORKLOADS[a.workload], a.seed, a.seconds, a.trace == 1,
                a.record == 1, run_dir)
    r["env"]["source_sha256"] = stamp
    (run_dir / "result.json").write_text(json.dumps(r, indent=1))

    for f in r["failures"]:
        print(f"FAILED {f['query']} round {f['round']} {f['pass']}: {f['error']}", file=sys.stderr)
    if a.record:
        prints = {(p["query"], p["fingerprint"]) for p in r["passes"]}
        if r["failed"] or len(prints) != len(r["queries"]):
            fail("not recording: some passes failed or disagreed")
        lines = [f"{q}\t{r['fingerprints'][q]}" for q in WORKLOADS[a.workload][1]]
        (BENCH / "expected" / f"{a.workload}.tsv").write_text("\n".join(lines) + "\n")

    env = r["env"]
    print(f"# {a.workload} seed={a.seed} rounds={r['rounds']} nproc={env['nproc']} "
          f"heap={env['heap_max_mb']:.0f}MB java={env['java']} spark={env['spark']} "
          f"calib_sec={env['calib_sec']:.3f} steal={env['cpu_steal_frac']:.3f} gen_s={r['data']['gen_s']:.2f} "
          f"failed_frac={r['metrics']['failed_frac']:.4f} artifacts={run_dir.relative_to(ROOT)}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(r["layers"].items())}
    else:
        metrics = {k: {"value": r["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
