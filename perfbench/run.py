#!/usr/bin/env python3
"""Layer-split benchmark of the graft Spark engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine from source (cached under the build directory),
starts a JVM on local[<cores>] with the session graft.Bench builds, runs the
workload's ops back to back (a closed loop with one client) and prints, as
its last stdout line, one JSON object with `correct`, `attempted`, `failed`
and `metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. Workloads, op lists and expected output hashes live next to
this file (workloads.json, expected.json); NOTES.md explains the figures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# graft.Bench's default heap is 8 GB. Under it the parallel collector grows the
# heap by its own timing, and peak RSS spread 0.20 of its median over five
# seeds; under 4 GB it spreads 0.02-0.07 and every workload fits (NOTES.md).
HEAP = "4g"
MIN_TAIL = 10       # samples that must lie beyond the reported p90
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- statistics

def percentile(xs, q):
    """Linear-interpolation percentile; returns (value, sample count)."""
    if not xs:
        raise BenchError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), len(s)


def p90_with_tail(xs, min_tail=MIN_TAIL):
    """p90 with its sample count and the count beyond it; refuses a p90
    with fewer than `min_tail` samples above it."""
    v, n = percentile(xs, 0.9)
    beyond = sum(1 for x in xs if x > v)
    if beyond < min_tail:
        raise BenchError(f"p90 over {n} samples has {beyond} beyond it; need {min_tail}")
    return v, n, beyond


# ---------------------------------------------------------------- inputs

def load_workloads():
    return json.loads((HERE / "workloads.json").read_text())


def find_sf_dir():
    """The sf0.1 input tree named in the repo's TESTDATA.md manifest."""
    manifest = ROOT / "TESTDATA.md"
    if not manifest.is_file():
        raise BenchError("TESTDATA.md not found: run from the root of a checkout")
    for line in manifest.read_text().splitlines():
        cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
        if len(cells) >= 2 and cells[0] == "0.1":
            return cells[1].rstrip("/")
    raise BenchError("TESTDATA.md lists no sf 0.1 directory")


def check_inputs(sf_dir, tables):
    missing = [t for t in tables if not Path(f"{sf_dir}/{t}.parquet").exists()]
    if missing:
        raise BenchError(f"sf0.1 inputs missing under {sf_dir}: {missing}")


def guard_env():
    leaked = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if leaked:
        raise BenchError(f"SPARK_GRAFT_* variables must be unset: {leaked}")


# ---------------------------------------------------------------- build

def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import pyspark
        cands.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in cands:
        if c.is_dir() and any(c.glob("spark-sql_*.jar")):
            return sorted(str(p) for p in c.glob("*.jar"))
    raise BenchError("Spark jars not found (set SPARK_HOME)")


def _compile(name, src_dirs, extra_cp, jars):
    srcs = sorted(p for d in src_dirs for p in d.rglob("*.scala"))
    if not srcs:
        raise BenchError(f"no Scala sources under {[str(d) for d in src_dirs]}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    for j in extra_cp + jars:
        h.update(j.encode())
    key = h.hexdigest()
    out = build_dir() / name
    stamp = build_dir() / f"{name}.key"
    if out.is_dir() and stamp.exists() and stamp.read_text() == key:
        return str(out)
    tmp = build_dir() / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [j for j in jars if Path(j).name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(extra_cp + jars), "-d", str(tmp)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError(f"compile of {name} failed:\n{(r.stdout + r.stderr)[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(key)
    return str(out)


def build():
    """Compile the engine (src/main/scala) and the benchmark's JVM side;
    returns the runtime classpath."""
    jars = spark_jars()
    main = _compile("main", [ROOT / "src" / "main" / "scala"], [], jars)
    bench = _compile("bench", [HERE / "src"], [main], jars)
    return [bench, main] + jars


# ---------------------------------------------------------------- JVM runs

class RunDir:
    """A fresh java.io.tmpdir, warehouse, spark.local.dir and output tree
    for one run, deleted afterwards."""

    def __init__(self):
        base = build_dir() / "runs"
        base.mkdir(parents=True, exist_ok=True)
        self.path = base / f"{os.getpid()}-{time.time_ns()}"
        for d in ("tmp", "warehouse", "local", "verify"):
            (self.path / d).mkdir(parents=True)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def run_jvm(cp, run_dir, mode, cores, tag, **kw):
    """Runs one JVM of the benchmark; returns (result, launch epoch ms,
    peak RSS in MB)."""
    out = run_dir.path / f"{tag}.json"
    args = {"mode": mode, "out": out, "cores": cores,
            "warehouse": run_dir.path / "warehouse", "local": run_dir.path / "local", **kw}
    args["localdir"] = args.pop("local")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
            "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir.path / 'tmp'}",
            "-cp", ":".join(cp), "graft.perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir.path / "local"))
    log = run_dir.path / f"{tag}.log"
    launch_ms = time.time() * 1000.0
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir.path, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not out.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"JVM ({mode}) exited {proc.returncode}:\n{tail}")
    return json.loads(out.read_text()), launch_ms, usage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- output check

def _cell(v):
    """tools/parity_check.py's float-canonical cell form."""
    from decimal import Decimal
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _kind(t):
    s = str(t)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith(("float", "double", "halffloat")):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("large_string"):
        return "string"
    return s


def content_hash(tbl):
    """Order-insensitive hash of an Arrow table: columns sorted by name,
    their type kinds, and the sorted rows of canonical cells."""
    cols = sorted(tbl.column_names)
    t = tbl.select(cols)
    kinds = [_kind(t.schema.field(c).type) for c in cols]
    data = [[_cell(v) for v in t.column(c).to_pylist()] for c in cols]
    rows = sorted(zip(*data)) if data else []
    h = hashlib.sha256(json.dumps([cols, kinds]).encode())
    for r in rows:
        h.update(b"\n" + "\x1f".join(r).encode())
    return h.hexdigest(), t.num_rows


def output_hashes(verify_dir, ops):
    import duckdb
    con = duckdb.connect()
    res = {}
    for op in ops:
        d = Path(verify_dir) / op
        if not any(d.glob("*.parquet")):
            res[op] = (None, 0)
            continue
        res[op] = content_hash(con.execute(f"SELECT * FROM '{d}/*.parquet'").fetch_arrow_table())
    con.close()
    return res


# ---------------------------------------------------------------- metrics

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, launch_ms, rss_mb, min_tail):
    warm = [p for p in res["warm"] if not p["traced"]]
    samples = [o["build_ms"] + o["plan_ms"] + o["exec_ms"] for p in warm for o in p["ops"] if o["ok"]]
    p50, n = percentile(samples, 0.5)
    p90, _, beyond = p90_with_tail(samples, min_tail)
    metrics = {
        "setup_s": ((res["setup_end_ms"] - launch_ms) / 1e3, "s"),
        "cold_pass_s": (res["cold"]["wall_s"], "s"),
        "pass_s": (_median([p["wall_s"] for p in warm]), "s"),
        "op_p50_ms": (p50, "ms"),
        "op_p90_ms": (p90, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    counts = {"op_samples": n, "op_p90_beyond": beyond,
              "warm_pass_s": [p["wall_s"] for p in warm]}
    return metrics, counts


MEMO_NAMES = {"shared.word_pairs": "shared.word_pairs_s", "shared.cc_labels": "shared.cc_labels_s",
              "shared.vecs": "shared.vecs_s", "bpe.trained": "shared.bpe_trained_s"}


def per_layer(res):
    traced = [p for p in res["warm"] if p["traced"]]
    plain = [p for p in res["warm"] if not p["traced"]]
    keys = sorted(traced[0]["layers"])
    m = {k: _median([p["layers"][k] for p in traced]) for k in keys}
    m["session.start_s"] = res["session_start_s"]
    probe = res["probe"]
    m["tables.load_ms"] = _median(probe["load_ms"])
    m["tables.load_jobs"] = probe["jobs"] / probe["calls"]
    for src, dst in MEMO_NAMES.items():
        m[dst] = res["memos"].get(src, 0.0)
    m["shared.memo_jobs"] = res["memo_jobs"]
    traced_pass = _median([p["wall_s"] for p in traced])
    plain_pass = _median([p["wall_s"] for p in plain])
    m["trace.traced_pass_s"] = traced_pass
    m["trace.untraced_pass_s"] = plain_pass
    m["trace.overhead"] = traced_pass / plain_pass - 1.0
    return m


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "exec.output_per_input", "trace.overhead"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- one run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def warm_passes(spec, trace):
    """The workload's fixed warm pass count; a traced run needs an even
    count of at least 4, as every other pass carries the listener."""
    n = spec["warm_passes"]
    return max(4, n + n % 2) if trace else n


def execute(workload, seed, seconds, trace):
    """The JVM and the output hashes of one run."""
    guard_env()
    wl = load_workloads()
    if workload not in wl:
        raise BenchError(f"unknown workload {workload!r}; have {sorted(wl)}")
    spec = wl[workload]
    ops = spec["ops"]
    sf_dir = find_sf_dir()
    check_inputs(sf_dir, TABLES)
    cores = len(os.sched_getaffinity(0))
    cp = build()
    with RunDir() as rd:
        res, launch, rss = run_jvm(
            cp, rd, "run", cores, "run", sf=sf_dir, ops=",".join(ops), seed=seed,
            seconds=seconds, trace=int(trace), memos=int(spec["memos"]),
            warm_passes=warm_passes(spec, trace), verify_dir=rd.path / "verify")
        hashes = output_hashes(rd.path / "verify", ops)
    return dict(spec=spec, ops=ops, sf_dir=sf_dir, cores=cores, res=res, launch=launch,
                rss=rss, hashes=hashes)


def run(workload, seed, seconds, trace, log=print):
    x = execute(workload, seed, seconds, trace)
    res, ops, hashes = x["res"], x["ops"], x["hashes"]
    expected = json.loads((HERE / "expected.json").read_text())
    passes = [res["cold"], res["verify"]] + res["warm"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    mismatches = sorted(op for op in ops
                        if op not in expected or hashes[op][0] != expected[op]["hash"])
    if trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(res).items()}
        counts = {}
    else:
        metrics, counts = end_to_end(res, x["launch"], x["rss"], x["spec"]["p90_min_tail"])
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    summary = {
        "workload": workload, "seed": seed, "trace": int(trace), "cores": x["cores"],
        "sf_dir": x["sf_dir"], "ops": len(ops), "attempted": attempted,
        "fail_ratio": failed / attempted, "mismatch_count": len(mismatches),
        "mismatches": mismatches,
        "errors": {o["op"]: o["err"] for p in passes for o in p["ops"] if not o["ok"]},
        "conf_sha256": hashlib.sha256(json.dumps(res["conf"], sort_keys=True).encode()).hexdigest(),
        "conf": res["conf"], **counts, "metrics": metrics,
    }
    log(json.dumps({"summary": summary}))
    return {"correct": failed == 0 and not mismatches, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        out = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
