"""Pipeline benchmark of graft's CLI pipelines.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (reused while
sources are unchanged), generates the workload's inputs from the seed,
runs one JVM at local[N] (N = min(4, nproc) - 1) that calls the program's
public functions the way `graft.Main` does, checks the outputs, and
prints one JSON line last: end-to-end metrics untraced (--trace 0) or
per-layer metrics from a traced run (--trace 1). Exit code 0 only when
every operation and check passed. See pipebench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402
import gen  # noqa: E402

# JDK module opens Spark needs when started outside spark-submit, as in
# the sbt build's javaOptions.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def deadline_s(seconds, trace):
    """Time the JVM gets: start-up, then a phase of `seconds` that may
    overrun its budget by up to one cycle; tracing adds a little."""
    return 60 + (2.5 if trace else 2) * seconds


def declared_units():
    """name -> unit of the end-to-end and the per-layer metrics."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# ------------------------------------------------------------ host context

def _cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]), idle, steal


def _own_jiffies():
    with open(f"/proc/{os.getpid()}/stat") as f:
        parts = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in parts[11:15])


def host_sample(window_s=0.25):
    """1-min load, steal % and the CPU share other processes used over a
    short window; taken while the benchmark's JVM is not running."""
    t0, i0, s0 = _cpu_times()
    o0 = _own_jiffies()
    time.sleep(window_s)
    t1, i1, s1 = _cpu_times()
    o1 = _own_jiffies()
    dt = max(1, t1 - t0)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"load1": load1, "steal_pct": round(100.0 * (s1 - s0) / dt, 2),
            "other_cpu_share": round(max(0.0, (dt - (i1 - i0) - (s1 - s0)
                                              - (o1 - o0)) / dt), 4)}


def contention(samples, cores):
    reasons = []
    for when, s in samples.items():
        if s["steal_pct"] > 5:
            reasons.append(f"{when}: steal {s['steal_pct']}%")
        if s["other_cpu_share"] > 0.25:
            reasons.append(f"{when}: other processes used "
                           f"{100 * s['other_cpu_share']:.0f}% of CPU")
        if s["load1"] > 1.5 * cores:
            reasons.append(f"{when}: 1-min load {s['load1']}")
    return reasons


def untraced_before(run_root, workload):
    """The last untraced run of the workload in this checkout, if any."""
    try:
        with open(os.path.join(run_root, f"last-{workload}-trace0.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


# ------------------------------------------------------------ JVM

def jvm(classes, cores, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "pipebench.PipeBench"] + args)
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]",
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH_DIR"], exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def log_tail(work, n=40):
    try:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            lines = [l for l in f if not l.startswith("\tat ")]
        return "".join(lines[-n:])
    except OSError:
        return ""


# ------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    e2e_units, layer_units = declared_units()
    classes = build.build(root)

    # one core stays free for the JVM's compiler and GC threads
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    run_root = os.path.join(root, ".bench_run")
    os.makedirs(run_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=run_root)
    try:
        host = {"start": host_sample()}
        # The generator's own check: same seed, same digest; another seed,
        # another digest (on a small size, so it costs little).
        probe = [gen.generate(a.workload, s, 0.05, os.path.join(work, f"probe{i}"))
                 for i, s in enumerate((a.seed, a.seed, a.seed + 1))]
        gen_ok = probe[0] == probe[1] != probe[2]
        for i in range(3):
            shutil.rmtree(os.path.join(work, f"probe{i}"))
        inputs = os.path.join(work, "inputs")
        input_digest = gen.generate(a.workload, a.seed, 1.0, inputs)
        print(f"input_digest {a.workload} seed={a.seed}: {input_digest}")

        out = os.path.join(work, "result.json")
        rc = jvm(classes, cores, work,
                 ["--workload", a.workload, "--inputs", inputs,
                  "--work", os.path.join(work, "state"),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--out", out],
                 deadline_s(a.seconds, a.trace))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(log_tail(work))
            sys.stderr.write(f"benchmark JVM exited with {rc}\n")
            return 1
        with open(out) as f:
            r = json.load(f)
        host["end"] = host_sample()
        contended = contention(host, cores)

        phase = r["traced" if a.trace else "untraced"]
        checks = [(gen_ok, "generator: digests do not follow the seed")]
        if a.trace:
            metrics = {k: {"value": v, "unit": layer_units[k]}
                       for k, v in sorted(r["per_layer"].items())}
            missing = sorted(set(layer_units) - set(metrics))
            checks += [
                (not missing, f"per-layer metrics missing: {missing}"),
                (r["span_coverage"] >= 0.95,
                 f"spans cover {r['span_coverage']:.3f} of the body"),
                (a.workload != "corpus-curate"
                 or r["per_layer"]["streaming.neardup.jobs"] > 0,
                 "no jobs attributed to the stream's span")]
        else:
            vals = dict(phase, setup_s=r["setup_s"])
            metrics = {k: {"value": vals[k], "unit": u}
                       for k, u in e2e_units.items()}
            bad = [k for k, m in metrics.items()
                   if m["value"] is None or m["value"] <= 0]
            checks.append((not bad, f"metrics not measured: {bad}"))
        failures = phase["failures"] + [m for ok, m in checks if not ok]
        attempted = phase["attempted"] + len(checks)
        failed = phase["failed"] + sum(not ok for ok, _ in checks)
        correct = not failures

        print(f"workload {a.workload} seed={a.seed} cores={cores} "
              f"cycles={phase['cycles']} body_s={phase['body_s']:.2f}")
        print(f"output_digest {phase['output_digest']} "
              f"(cycles agree: {phase['cycle_digests_agree']})")
        print(f"setup_s {r['setup_s']} (from process start)")
        for k, u in e2e_units.items():
            if k != "setup_s":
                print(f"  {k:16s} {phase[k]!s:>22} {u}")
        print(f"  {'fail_ratio':16s} {failed / attempted:>22} ratio "
              f"({failed} of {attempted})")
        for k, v in sorted(phase.get("detail", {}).items()):
            print(f"  {k:16s} {v!s:>22}")
        if a.trace:
            print(f"span_coverage {r['span_coverage']:.4f} "
                  f"jobs_outside_spans {r['jobs_outside_spans']}")
            totals = sorted(r["span_totals"].items(),
                            key=lambda kv: -kv[1]["wall_share"])
            for name, t in totals:
                print(f"  {name:26s} {t['calls']:4d} calls  "
                      f"{100 * t['wall_share']:5.1f}% of body  "
                      f"driver {t['driver_s']:7.3f} s  "
                      f"task CPU {t['task_cpu_s']:7.3f} s")
            base = untraced_before(run_root, a.workload)
            if base is None:
                print("  tracing overhead: no untraced run of this workload "
                      "in this checkout to compare with")
            else:
                now = dict(phase, setup_s=r["setup_s"])
                then = dict(base["result"]["untraced"],
                            setup_s=base["result"]["setup_s"])
                for k in e2e_units:
                    if now.get(k) and then.get(k):
                        print(f"  tracing overhead {k}: traced {now[k]:.6g} vs "
                              f"untraced {then[k]:.6g} (seed {base['args']['seed']}) "
                              f"({100 * (now[k] / then[k] - 1):+.1f}%)")
        print("host " + json.dumps(host) + (
            "  CONTENDED: " + "; ".join(contended) if contended else "  uncontended"))
        for f in failures:
            print(f"FAILED: {f}")
        with open(os.path.join(run_root, f"last-{a.workload}-trace{a.trace}.json"),
                  "w") as f:
            json.dump({"args": vars(a), "input_digest": input_digest,
                       "host": host, "contended": contended, "result": r,
                       "failures": failures}, f, indent=1)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
