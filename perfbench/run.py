#!/usr/bin/env python3
"""Event-store benchmark: one workload per run.

    python3 perfbench/run.py --workload ingest|tail|http|corpus \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload, tiny sizes

Builds the harness and the library from the checkout's sources (once per
source change), generates the workload's inputs from the seed, runs the
harness JVM, checks the outputs, and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric of BENCHMARK.json (--trace 0), or every
per-layer metric plus the tracing overhead (--trace 1). See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
# class-data-sharing archive of the classes a run loads (see train_archive)
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("ingest", "tail", "http", "corpus")
# the harness JVM's limit, leaving the checks room inside a 180 s run
DEADLINE_S = 160

# The end-to-end metrics every workload reports, and the harness metric
# each is read from (with a scale factor) on each workload.
HEADLINE = {
    "ingest": {"latency_p50_ms": ("append_p50_ms", 1), "latency_tail_ms": ("append_p999_ms", 1),
               "throughput_per_s": ("append_msgs_per_s", 1)},
    "tail": {"latency_p50_ms": ("delivery_p50_ms", 1), "latency_tail_ms": ("delivery_p90_ms", 1),
             "throughput_per_s": ("catchup_msgs_per_s", 1)},
    "http": {"latency_p50_ms": ("append_p50_ms", 1), "latency_tail_ms": ("append_p90_ms", 1),
             "throughput_per_s": ("appends_per_s", 1)},
    "corpus": {"latency_p50_ms": ("pipeline_s", 1000), "latency_tail_ms": ("replay_slowest_batch_ms", 1),
               "throughput_per_s": ("replay_events_per_s", 1)},
}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
    "-XX:+UseG1GC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src"), LIB_SRC]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile the library and the harness with sbt and train the
    class-data-sharing archive, once per source fingerprint; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "scala")):
        raise SystemExit("perfbench: the library sources (src/main/scala) are not in this checkout")
    fp = fingerprint()
    stamp = os.path.join(TARGET, "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            s = json.load(f)
        if s.get("fingerprint") == fp and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)) \
                and os.path.exists(ARCHIVE):
            return s["classpath"], fp
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    log("building the library and the harness (sbt)")
    t0 = time.time()
    with open(os.path.join(TARGET, "build.log"), "w", encoding="utf-8") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=max(60, deadline - time.time()))
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        raise SystemExit(f"perfbench: build failed (see {os.path.relpath(TARGET, ROOT)}/build.log)")
    cp = jar_classpath(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    train_archive(cp, deadline)
    with open(stamp, "w", encoding="utf-8") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, fp


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar, since
    class-data sharing archives classes from jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(TARGET, f"perfbench-classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, files in os.walk(entry):
                    dirs.sort()
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(cp, deadline):
    """One smoke pass of every workload in a single JVM, which dumps the
    classes it loaded into ARCHIVE. Every measured JVM maps the archive
    instead of loading and verifying Spark's classes again, which takes
    ~5 s off each run's start and first set-up."""
    log("training the class-data-sharing archive (a smoke pass of every workload)")
    t0 = time.time()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(HERE, "work", f"cds-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        generate_corpus(1, data, docs=CORPUS_DOCS, events=4000)
        run_jvm(cp, ["--workload", ",".join(WORKLOADS), "--seed", "1", "--seconds", "1", "--trace", "0",
                     "--dir", work, "--data", data, "--smoke", "1"], work, deadline,
                share=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        raise SystemExit("perfbench: the JVM wrote no class-data-sharing archive")
    log(f"archive trained in {time.time() - t0:.0f} s")


# ---------------------------------------------------------------- inputs

# Shape of the shared sf0.1 `documents` and `events` tables (5,000
# documents, 100,000 events), measured with DuckDB; the generator draws
# tables of this shape at the benchmark's size. README.md lists the
# figures next to what a generated table gives.
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()          # 30 words, each 3.3% of the text
WORDS_PER_DOC = (10, 100)           # uniform
NEAR_DUP_EVERY = 20                 # 5%: an earlier document's text + " dup"
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
SOURCES = 20                        # source = src<doc_id % 20>
EVENTS_PER_USER = 200 / 3           # 100,000 events over 1,500 users
EVENT_SPAN_DAYS = 30                # Poisson arrivals, event_id in ts order
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")   # uniform
EVENT_VALUE_MEAN = 50.0             # exponential
PROPS_K = 100                       # props = {"k": 0..99}
INTERVAL_ROWS_PER_EVENT = 59 / 100000   # the interval join's rows
CORPUS_DOCS = 60
CORPUS_EVENTS = 20000


def insert(con, table, rows):
    import pandas as pd
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    frame = pd.DataFrame(rows, columns=cols)
    con.execute(f"INSERT INTO {table} SELECT * FROM frame")


def generate_corpus(seed, data_dir, docs, events):
    """The `documents` and `events` tables the corpus stages read, with the
    sf0.1 shape above. Which documents are near-duplicates, of which
    earlier document, and each document's word count are the same on every
    seed, as they set the stages' work; the words, languages and events
    vary."""
    import duckdb
    rnd = random.Random(seed)
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    lo, hi = WORDS_PER_DOC
    langs, weights = zip(*LANGS)
    texts = []
    for i in range(docs):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            text = texts[random.Random(i).randrange(i)] + " dup"
        else:
            # word counts spread evenly over the range, in a fixed order
            text = " ".join(rnd.choice(VOCAB) for _ in range(lo + (i * 37) % (hi - lo + 1)))
        texts.append(text)
    rows = [(i, t, rnd.choices(langs, weights)[0], f"src{i % SOURCES}", len(t)) for i, t in enumerate(texts)]
    insert(con, "documents", rows)
    con.execute("CREATE TABLE events (event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type VARCHAR, "
                "value DOUBLE, props VARCHAR)")
    t0 = 1704067200 * 1000000  # 2024-01-01 UTC
    span = EVENT_SPAN_DAYS * 86400 * 1000000
    users = max(1, round(events / EVENTS_PER_USER))
    stamps = sorted(t0 + rnd.randrange(span) for _ in range(events))
    rows = [(i, t, rnd.randrange(users), rnd.choice(EVENT_TYPES),
             round(rnd.expovariate(1 / EVENT_VALUE_MEAN), 2), json.dumps({"k": rnd.randrange(PROPS_K)}))
            for i, t in enumerate(stamps)]
    insert(con, "events", rows)
    con.execute(f"COPY documents TO '{data_dir}/documents.parquet' (FORMAT PARQUET)")
    con.execute("COPY (SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props "
                f"FROM events ORDER BY event_id) TO '{data_dir}/events.parquet' (FORMAT PARQUET)")
    con.close()


# ---------------------------------------------------------------- run

def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, deadline, share=f"-XX:SharedArchiveFile={ARCHIVE}"):
    cmd = ["java", "-Xmx3g", *JVM_OPTS, share, "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w", encoding="utf-8") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the harness did not finish in time")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log"), encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: the harness failed (exit {p.returncode}):\n{tail}")
    with open(os.path.join(work, "result.json"), encoding="utf-8") as f:
        return json.load(f)


def headline(workload, metrics, bench):
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    out = {"setup_s": metrics["setup_s"]}
    for name, (src, scale) in HEADLINE[workload].items():
        out[name] = {"value": metrics[src]["value"] * scale, "unit": units[name]}
    return out


def run_workload(workload, seed, seconds, trace, smoke, bench):
    from check import check_metrics, check_pass
    t_start = time.time()
    deadline = t_start + (DEADLINE_S if not smoke else 600)
    load_start = os.getloadavg()
    cp, fp = build(t_start + 850)
    deadline = max(deadline, time.time() + 120)
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    results_dir = os.path.join(HERE, "results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if workload == "corpus":
            events = 4000 if smoke else CORPUS_EVENTS
            generate_corpus(seed, data, docs=CORPUS_DOCS, events=events)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--dir", work, "--data", data, "--smoke", "1" if smoke else "0"]
        result = run_jvm(cp, args, work, deadline)
        errors = []
        for p in result["passes"]:
            errors += check_pass(workload, p, data)
        untraced = result["passes"][0]["metrics"]
        e2e = headline(workload, untraced, bench)
        errors += check_metrics(e2e, bench["end_to_end"])
        if trace:
            traced = result["passes"][1]
            # a layer the workload does not drive reads 0: the "no change"
            # the benchmark predicts for it there
            metrics = {m["name"]: traced["metrics"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                       for m in bench["per_layer"] if not m["name"].startswith("overhead.")}
            with_tr = headline(workload, traced["metrics"], bench)
            # set-up is where the first pass warms the JVM, so it has no
            # like-for-like traced twin
            for m in bench["end_to_end"]:
                if m["name"] == "setup_s":
                    continue
                base = e2e[m["name"]]["value"]
                metrics[f"overhead.{m['name']}"] = {
                    "value": 100.0 * (with_tr[m["name"]]["value"] - base) / base if base else 0.0, "unit": "%"}
            errors += check_metrics(metrics, bench["per_layer"])
            shutil.copy(os.path.join(traced["dir"], "spans.jsonl"),
                        os.path.join(results_dir, f"{workload}-seed{seed}-spans.jsonl"))
        else:
            metrics = e2e
        attempted = sum(p["attempted"] for p in result["passes"])
        failed = sum(p["failed"] for p in result["passes"])
        report = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "provenance": {
                "git_sha": git_sha(), "source_sha256": fp, "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "loadavg_start": load_start, "loadavg_end": os.getloadavg(), **result["jvm"]},
            "passes": [{k: v for k, v in p.items() if k != "dir"} for p in result["passes"]],
            "errors": errors,
        }
        with open(os.path.join(results_dir, f"{workload}-seed{seed}-trace{trace}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(report, f, indent=1)
        print(json.dumps({"provenance": report["provenance"]}))
        detail = {"detail": {k: v for k, v in untraced.items() if "." not in k},
                  "counts": result["passes"][0]["counts"]}
        if workload == "corpus":
            detail["replay_rows_at_sf01_rate"] = round(INTERVAL_ROWS_PER_EVENT * events, 1)
        print(json.dumps(detail))
        for e in errors:
            log(f"CHECK FAILED: {e}")
        if errors or failed:
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(results_dir, f"{workload}-seed{seed}-trace{trace}-jvm.log"))
        return {"correct": not errors, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes; without --workload, run every workload once")
    a = ap.parse_args()
    if not a.workload and not a.smoke:
        ap.error("--workload is required unless --smoke is given")
    sys.path.insert(0, HERE)
    bench = spec()
    seconds = a.seconds if a.seconds is not None else (2 if a.smoke else bench["run_seconds"])
    ok = True
    for w in ([a.workload] if a.workload else WORKLOADS):
        out = run_workload(w, a.seed, seconds, a.trace, a.smoke, bench)
        ok = ok and out["correct"] and out["failed"] == 0
        print(json.dumps(out), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
