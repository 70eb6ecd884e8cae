"""graft's benchmark: three workloads in a closed loop on a local[N] session.

    python3 perfbench/run.py --workload cog_write|cog_read|dedup \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the engine and the harness from
source (perfbench/build.py), runs one benchmark JVM, checks every op's
output, and prints every metric as a bare `name value unit` line. The
last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The full record, with op times, checks,
spans and the tracing overhead, is written to
.bench_build/records/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cog_write", "cog_read", "dedup")
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tail(values):
    """(percentile, value, samples beyond it) at the highest percentile
    that leaves at least ten samples beyond its rank: the eleventh
    slowest sample, at percentile 100 (n - 10) / n. Never below the
    median: with fewer than 20 samples it is the median."""
    n = len(values)
    if n - 10 >= n / 2:
        return 100.0 * (n - 10) / n, sorted(values)[n - 11], 10
    return 50.0, statistics.median(values), n // 2


def end_to_end(rec, failed):
    ops = rec["ops"]
    times = [o["s"] for o in ops]
    p, t, beyond = tail(times)
    metrics = {
        "setup_s": (rec["session_s"] + statistics.median(rec["input_reps_s"]) +
                    rec["checks_s"] + sum(rec["warmup_s"]), "s"),
        "op_s_p50": (statistics.median(times), "s"),
        "op_s_tail": (t, "s"),
        "throughput_mb_s": (statistics.median(o["in_bytes"] / 1e6 / o["s"] for o in ops), "MB/s"),
        "file_bytes_per_input_byte": (rec["file_bytes_per_input_byte"], "ratio"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    extra = {"fail_ratio": (failed / len(ops), "ratio"), "op_s_tail_percentile": (p, "pct"),
             "op_s_tail_beyond": (beyond, "count"), "ops": (len(ops), "count")}
    return metrics, extra


def dedup_oracle(rec):
    """DuckDB truth for the dedup ops on the run's corpus: the sha256 of
    the DedupQueries.dedupClustersSql result (in the digest format of
    the JVM side) and the exact n-gram pairs of its pair CTE."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO %d" % rec["nproc"])
        glob = (rec["corpus"] + "/*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
        sql, cte = rec["oracle_sql"], rec["oracle_pairs_cte"]
        con.execute(f"CREATE TEMP TABLE pairs2 AS {cte} SELECT * FROM pairs2")
        pairs = set(con.execute("SELECT id_a, id_b FROM pairs2").fetchall())
        if sql.startswith(cte):
            # the pair CTE is referenced inside the recursive closure;
            # reuse the table instead of recomputing it per recursion step
            sql = "WITH RECURSIVE " + sql[len(cte):].lstrip().lstrip(",")
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return hashlib.sha256("".join(f"{a},{b}\n" for a, b in rows).encode()).hexdigest(), pairs


def check_dedup(rec):
    want, exact = dedup_oracle(rec)
    rec["oracle_digest"], rec["oracle_pairs"] = want, len(exact)
    for o in rec["ops"] + rec.get("traced_ops", []):
        extra = [p for p in o.pop("pairs") if tuple(p) not in exact]
        if o["ok"] and o["digest"] != want:
            o["ok"], o["note"] = False, "cluster digest differs from the DuckDB oracle"
        elif o["ok"] and extra:
            o["ok"], o["note"] = False, f"{len(extra)} minhash pairs are not exact n-gram pairs"


def cpu_ticks():
    """Aggregate CPU tick counters of the host, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def java_cmd(cp, heap, tmp, main, args):
    """A JVM command line for one of the harness mains; Spark on JDK 17
    needs the module opens spark-submit would pass. The heap is fixed
    and pre-touched: with a growing heap, the JVM's peak RSS followed
    the collector's sizing decisions, which varied by a quarter between
    runs of the same code."""
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}"] + opens + ["-cp", cp, main] + args


def run_jvm(cp, args, work, deadline):
    cmd = java_cmd(cp, HEAP, work / "tmp", "perfbench.Main", args)
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")


def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(str(pathlib.Path(__file__).parent),
                                                pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    cp = build.build()
    work = build.OUT / "work" / f"selftest-{os.getpid()}"
    cmd = java_cmd(cp, "1g", work / "tmp", "perfbench.SelfTest", [str(work)])
    ok = subprocess.run(cmd).returncode == 0 and ok
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")

    before = {p: p.read_text() for p in build.OUT.glob("*.stamp")} if build.OUT.is_dir() else {}
    cp = build.build()
    built = before != {p: p.read_text() for p in build.OUT.glob("*.stamp")}
    # a run exits within 180 s; the first one in a checkout also builds
    deadline = start + (880 if built else 175)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = build.OUT / "work" / f"{tag}-{os.getpid()}"
    records = build.OUT / "records"
    records.mkdir(parents=True, exist_ok=True)
    raw = work / "record.json"
    try:
        t0 = cpu_ticks()
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--out", str(raw), "--work", str(work)], work, deadline)
        t1 = cpu_ticks()
        rec = json.loads(raw.read_text())
        if t0 and t1 and len(t0) > 7:
            # share of CPU time the hypervisor gave to other guests while
            # the JVM ran: how loaded the host was during this run
            d = [b - a for a, b in zip(t0, t1)]
            rec["host_steal_share"] = d[7] / max(1, sum(d))
        if a.workload == "dedup":
            check_dedup(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checked = rec["ops"] + rec.get("traced_ops", [])
    failed = sum(1 for o in checked if not o["ok"])
    metrics, extra = end_to_end(rec, sum(1 for o in rec["ops"] if not o["ok"]))
    rec["end_to_end"] = {k: v for k, (v, _) in {**metrics, **extra}.items()}
    if a.trace:
        traced = [o["s"] for o in rec["traced_ops"]]
        rec["tracing_overhead_s"] = statistics.median(traced) - metrics["op_s_p50"][0]
        extra["tracing_overhead_s"] = (rec["tracing_overhead_s"], "s")
        shown = {m["name"]: (m["value"], m["unit"]) for m in rec["per_layer"]}
    else:
        shown = metrics
    out = records / f"{tag}.json"
    out.write_text(json.dumps(rec, indent=1))

    for name, (v, unit) in list(shown.items()) + list(extra.items()):
        print(f"{name} {v!r} {unit}")
    print(f"record {out.relative_to(build.ROOT)}")
    for o in checked:
        if not o["ok"]:
            print(f"failed op: {o['kind']} {o['note']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(checked), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
