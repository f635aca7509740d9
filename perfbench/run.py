#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

`--workload all` runs every workload in BENCHMARK.json, one JVM each.

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler shipped in the Spark distribution, and generates the input tables
(`gendata.py`); both are cached under `.bench_build/` (or
`$CARGO_TARGET_DIR`). Each run then starts one JVM at `local[nproc]`,
sets up (session, standing stores, two warm passes), measures whole
passes for `--seconds`, checks every
execution's output digest against `digests.json`, and prints one JSON line
last: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. See README.md.

    python3 perfbench/run.py --record

re-records `digests.json` from the current engine and confirms the
oracle-backed queries against DuckDB with `tools/check.py`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import metrics  # noqa: E402

DATA_SEED = 42
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` the sbt build uses."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").is_file() else "")
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def heap():
    """Tier-1's rule: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def sources(root, pattern):
    return sorted(p for p in root.glob(pattern) if p.is_file())


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def compile_scala(srcs, out, classpath):
    """Compiles into `out` unless it already holds these exact sources,
    compiled against the same class directories."""
    key = stamp(srcs) + "".join(
        (Path(c) / ".stamp").read_text() for c in classpath if (Path(c) / ".stamp").is_file())
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == key:
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp] \
        + [str(p) for p in srcs]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")
    (tmp / ".stamp").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build():
    """Compiled engine + harness classes."""
    engine = sources(ROOT, "src/main/scala/**/*.scala")
    if not engine:
        fail(f"no engine sources under {ROOT}/src/main/scala", code=2)
    harness = sources(BENCH, "src/**/*.scala")
    return compile_scala(engine + harness, build_dir() / "classes",
                         [f"{spark_jars()}/*"])


def data():
    """The input tables, generated once per generator version."""
    import gendata
    out = build_dir() / f"data-{DATA_SEED}-{stamp([BENCH / 'gendata.py'])}"
    if not out.is_dir():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        gendata.write(DATA_SEED, tmp)
        tmp.rename(out)
    return out


def jvm(classes, main, args, work, extra_cp=()):
    """Runs one harness JVM; returns its raw JSON document."""
    out = work / "raw.json"
    cp = os.pathsep.join([str(c) for c in extra_cp] +
                         [str(classes), str(ROOT / "src/main/resources"),
                          f"{spark_jars()}/*"])
    # C1 only: a run is too short for C2 to settle, and its compile
    # threads added 20-40% CPU and +-15% wall noise to the timed passes.
    # With C1's default 48 MB code cache, single executions now and then
    # ran 8x slower; none did with 256 MB.
    cmd = ["java", f"-Xmx{heap()}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}", *ADD_OPENS,
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, main, *args, f"work={work}", f"out={out}",
           f"cores={len(os.sched_getaffinity(0))}"]
    with open(work / "jvm.log", "w") as log:
        try:
            status = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            status = f"timeout after {JVM_TIMEOUT_S} s"
    if status != 0 or not out.is_file():
        fail(f"harness failed ({status}):\n{(work / 'jvm.log').read_text()[-3000:]}")
    return json.loads(out.read_text())


def fresh_dir(name):
    d = build_dir() / "run" / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def check(executions, reference):
    """Failed executions: threw, or digest differs from the recorded one."""
    failed = 0
    for e in executions:
        want = reference.get(e["query"], {}).get("digest")
        if e["error"] is not None or e["digest"] is None or e["digest"] != want:
            failed += 1
            why = e["error"] or f"digest {e['digest']} != recorded {want}"
            print(f"FAIL {e['query']} ({e['qid']}): {why}", file=sys.stderr)
    return failed


def run(args):
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    known = [w["name"] for w in declared["workloads"]]
    if args.workload not in known:
        fail(f"unknown workload {args.workload}; known: {', '.join(known)}", code=2)
    classes = build()
    tables = data()
    reference = json.loads((BENCH / "digests.json").read_text())["queries"]
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = fresh_dir(name)
    try:
        raw = jvm(classes, "graftbench.Harness",
                  [f"workload={args.workload}", f"seed={args.seed}",
                   f"seconds={args.seconds}", f"trace={args.trace}",
                   f"data={tables}"], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(raw["executions"])
    failed = check(raw["executions"], reference)
    e2e, notes = metrics.end_to_end(raw, failed, attempted)
    raw["notes"] = dict(notes, source=stamp(sources(ROOT, "src/main/**/*")),
                        seed=args.seed, seconds=args.seconds)
    env = raw["env"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={env['nproc']} "
          f"heap_max={env['heap_max_mb']}MB spark={env['spark']} java={env['java']} "
          f"source={raw['notes']['source']}")
    for p in raw["passes"]:
        print(f"# pass {p['pass']}{' traced' if p['traced'] else ''}: wall {p['wall_s']:.3f} s, "
              f"cpu {p['cpu_s']:.3f} s, loadavg {p['load_start']} -> {p['load_end']}, "
              f"host steal {p['steal_s']:.2f} s")
    print(f"# set-up {raw['setup_s']:.3f} s; {notes['query_samples']} timed query samples, "
          f"slowest {notes['query_max_s']:.3f} s")
    print(f"# speed probe {' '.join(f'{x * 1e3:.1f}' for x in raw['speed_probe_s'])} ms "
          f"(reference {metrics.PROBE_REF_S * 1e3:.0f} ms); unscaled medians: "
          f"set-up {notes['raw_setup_s']:.3f} s, wall {notes['raw_wall_s']:.3f} s, "
          f"cpu {notes['raw_cpu_s']:.3f} s")
    if args.trace:
        values, kind = metrics.per_layer(raw, int(env["cores"])), "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    units = {m["name"]: m["unit"] for m in declared[kind]}
    if set(units) - set(values):
        fail(f"BENCHMARK.json declares {kind} metrics not computed: "
             f"{sorted(set(units) - set(values))}")
    # every computed figure goes to the detail file; stdout carries the
    # declared ones
    raw["metrics"] = values
    out = {k: {"value": values[k], "unit": units[k]} for k in units}
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    detail = build_dir() / "out" / f"{name}.json"
    detail.parent.mkdir(parents=True, exist_ok=True)
    detail.write_text(json.dumps(raw))
    print(f"# spans and raw measurements: {detail.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def record():
    """Re-records digests.json for every workload query on the current engine."""
    classes = build()
    tables = data()
    work = fresh_dir("record")
    raw = jvm(classes, "graftbench.Harness", ["record=all", f"data={tables}"], work)
    digests, ok = {}, True
    for row in raw["record"]:
        ds = {r["digest"] for r in row["runs"]}
        errs = [r["error"] for r in row["runs"] if r["error"]]
        if errs or len(ds) != 1:
            print(f"NOT RECORDED {row['query']}: {errs or sorted(ds)}")
            ok = False
            continue
        digests[row["query"]] = {"digest": ds.pop()}
    oracle = json.loads((work / "out" / "oracle_sql.json").read_text())
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"),
                        str(work / "out"), str(tables)], capture_output=True, text=True)
    print(r.stdout)
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    for q, d in digests.items():
        d["oracle"] = "duckdb" if q in passed else (
            "FAILED" if q in oracle else "none (self-consistency only)")
        ok &= d["oracle"] != "FAILED"
    (BENCH / "digests.json").write_text(json.dumps(
        {"data_seed": DATA_SEED, "queries": digests}, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if args.record:
        record()
    elif args.workload is None:
        fail("--workload is required", code=2)
    elif args.workload == "all":
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in declared["workloads"]:
            run(argparse.Namespace(**dict(vars(args), workload=w["name"])))
    else:
        run(args)


if __name__ == "__main__":
    main()
