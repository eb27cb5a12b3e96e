#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload <full_crawl|corpus_analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source (sbt, offline) when the sources changed, runs the workload in its own
JVM, checks every output against computations made here (closed forms in
Python, DuckDB restatements), and prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
HEAP = "3g"          # fixed JVM heap (-Xms = -Xmx)
JVM_TIMEOUT_S = 165


def spec():
    """Workload names and metric units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    units = lambda key: {m["name"]: m["unit"] for m in b[key]}
    return [w["name"] for w in b["workloads"]], units("end_to_end"), units("per_layer")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the program compiles and runs with."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile program + harness when the sources changed; return the classpath."""
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- JVM

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--src", os.path.join(SRC, "scala")]
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload JVM timed out (log: {log_path})")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"workload JVM exited {rc}:\n{tail}")
    with open(os.path.join(WORK, "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def duck():
    import duckdb
    return duckdb.connect()


def rows(con, sql):
    return con.execute(sql).fetchall()


def pq(path):
    return f"read_parquet('{path}/*.parquet')"


HOSTS = {  # id % 7 → (hosting_id, politeness interval ms); the fetch stage's defaults
    1: ("github.com", 5000), 2: ("oshwa.org", 5000), 3: ("appropedia.org", 1000),
    5: ("gitlab.com", 5000), 6: ("codeberg.org", 5000),
    0: ("thingiverse.com", 1000), 4: ("thingiverse.com", 1000),
}
PRIORITY = {"appropedia.org": 1, "github.com": 2, "oshwa.org": 3,
            "thingiverse.com": 4, "gitlab.com": 5, "codeberg.org": 6}
MAX_ERROR_RETRIES = 3


def unit_path(i):
    r = i % 7
    if r == 1:
        return f"github.com/owner{i % 10}/repo{i}/main/okh.toml"
    if r == 2:
        return f"oshwa.org/us{i:06d}"
    if r == 3:
        return f"appropedia.org/Project_{i}"
    if r == 5:
        return f"gitlab.com/group{i % 3}/proj{i}/main/okh.toml"
    if r == 6:
        return f"codeberg.org/org{i % 4}/unit{i}/main/okh.toml"
    return f"thingiverse.com/{i // 10000}/{i}"


def outcome(i):
    """(status, retries) of the fetch transport's residue rules."""
    if i % 103 == 0:
        return "robots_denied", 0
    if i % 101 == 0:
        return "not_found", 0
    if i % 97 == 0:
        return "ok", 2
    if i % 997 == 0:
        return "error", 3
    return "ok", 0


def store_ids(con, store):
    return sorted(int(re.match(r"thing:(\d+)/", r[0]).group(1))
                  for r in rows(con, f"SELECT image_id FROM {pq(store)}"))


def expected_salts(ids):
    counts = {}
    for i in ids:
        h = HOSTS[i % 7][0]
        counts[h] = counts.get(h, 0) + 1
    total = max(1, sum(counts.values()))
    return {h: min(32, max(2, int(n / total * 32)))
            for h, n in counts.items() if n / total > 0.25}


def expected_fetch_log(ids):
    """The q_crawl_e2e closed form, per (host, salt) politeness stream."""
    salts = expected_salts(ids)
    streams = {}
    for i in ids:
        host, interval = HOSTS[i % 7]
        k = salts.get(host, 1)
        streams.setdefault((host, i % k if k > 1 else 0), []).append(i)
    out = set()
    for (host, _), members in streams.items():
        k = salts.get(host, 1)
        clock = 0
        for pos, i in enumerate(sorted(members), start=1):
            status, retries = outcome(i)
            interval = HOSTS[i % 7][1] * k
            if status == "robots_denied":
                out.add((unit_path(i), host, i, pos, clock, clock, 0, status))
            else:
                start = clock
                clock += (retries + 1) * interval
                out.add((unit_path(i), host, i, pos, start, clock, retries, status))
    return out, salts


def repair(i, caption):
    """The residue repair of a generated caption (tags stripped for id%10=3,
    cp1252 mojibake fixed for id%10=7)."""
    if i % 10 == 3:
        return re.sub(r"<[^>]*>", "", caption)
    if i % 10 == 7:
        return caption.replace("â€”", "—")
    return caption


def check_full_crawl(res, problems):
    info = res["info"]
    out = os.path.join(WORK, "out", "full")
    con = duck()
    store = info["store"]
    ids = store_ids(con, store)
    want_log, salts = expected_fetch_log(ids)
    if {h: int(k) for h, k in info["salts"].items()} != salts:
        problems.append(f"salts {info['salts']} != closed form {salts}")
    got_log = set(rows(con, f"SELECT * FROM {pq(out + '/fetch_log')}"))
    if got_log != want_log:
        problems.append(f"fetch_log: {len(got_log ^ want_log)} rows differ from the closed form")
    seen = rows(con, f"SELECT unit_path, status FROM {pq(out + '/url_seen')}")
    if sorted(u for u, _ in seen) != sorted(unit_path(i) for i in ids):
        problems.append("url_seen unit set differs from the expected unit paths")
    ok_ids = [i for i in ids if outcome(i)[0] == "ok"]
    res_rows = rows(con, f"SELECT image_id, unit_path, caption, phash, phash_check "
                         f"FROM {pq(out + '/results')}")
    captions = dict(rows(con, f"SELECT image_id, caption FROM {pq(store)}"))
    if sorted(r[1] for r in res_rows) != sorted(unit_path(i) for i in ok_ids):
        problems.append("results do not hold exactly one row per ok unit")
    bad_phash = sum(1 for r in res_rows if r[3] != r[4])
    if bad_phash:
        problems.append(f"{bad_phash} results rows with phash_check != phash")
    bad_cap = sum(1 for r in res_rows if r[2] != repair(
        int(re.match(r"thing:(\d+)/", r[0]).group(1)), captions[r[0]]))
    if bad_cap:
        problems.append(f"{bad_cap} captions differ from the residue repair")
    if int(info["pixels_checked"]) != len(ok_ids):
        problems.append("not every result image was decoded")
    if int(info["pixels_lossless_mismatch"]) or int(info["pixels_jpg_below_40db"]):
        problems.append(f"decoded pixels: {info['pixels_lossless_mismatch']} lossless "
                        f"mismatches, {info['pixels_jpg_below_40db']} jpg below 40 dB")
    for s in info["summaries"]:
        if (int(s["attempted"]), int(s["ok"]), int(s["result_rows"])) != \
                (len(ids), len(ok_ids), len(ok_ids)):
            problems.append(f"run summary {s} != ({len(ids)}, {len(ok_ids)}, {len(ok_ids)})")
            break


def model_slices(ids, slices, limit, invalidate_after, removed):
    """Slice-by-slice selection: the next `limit` units in (priority, seq)
    order that are unresolved, or whose seen-filter entry was removed."""
    state = {}  # unit → [perm, n_err]
    pending = set()
    order = sorted(ids, key=lambda i: (PRIORITY[HOSTS[i % 7][0]], i))
    out = []
    for j in range(1, slices + 1):
        if j == invalidate_after + 1:
            pending = set(removed)
        picked = []
        for i in order:
            u = unit_path(i)
            perm, n_err = state.get(u, (0, 0))
            if u in pending or not (perm or n_err >= MAX_ERROR_RETRIES):
                picked.append(i)
                if len(picked) == limit:
                    break
        events = set()
        for i in picked:
            u = unit_path(i)
            status, _ = outcome(i)
            perm, n_err = state.get(u, (0, 0))
            state[u] = (max(perm, int(status != "error")), n_err + (status == "error"))
            pending.discard(u)
            events.add((u, status))
        out.append(events)
    return out, state


def check_resume(res, problems):
    info = res["info"]["resume"]
    sizes = {k: int(info[k]) for k in ("limit", "slices", "after", "k")}
    out = os.path.join(WORK, "out", "resume")
    con = duck()
    ids = store_ids(con, info["store"])
    removed = info["invalidated"]
    if len(removed) != sizes["k"]:
        problems.append(f"{len(removed)} keys invalidated, expected {sizes['k']}")
    want, state = model_slices(ids, sizes["slices"], sizes["limit"], sizes["after"], removed)
    events = rows(con, f"SELECT unit_path, status, run_seq FROM {pq(out + '/url_seen')}")
    by_seq = {}
    for u, s, q in events:
        by_seq.setdefault(q, set()).add((u, s))
    got = [by_seq[q] for q in sorted(by_seq)]
    if len(got) != len(want):
        problems.append(f"{len(got)} slices committed, expected {len(want)}")
    for j, (g, w) in enumerate(zip(got, want), start=1):
        if g != w:
            problems.append(f"slice {j}: {len(g ^ w)} units differ from the next "
                            f"unresolved units in (priority, seq) order")
            break
    if len(got) > sizes["after"]:
        before = set().union(*got[:sizes["after"]])
        refetched = {u for u, _ in got[sizes["after"]] if (u, "ok") in before}
        if refetched != set(removed):
            problems.append(f"the slice after the invalidation refetched {len(refetched)} "
                            f"resolved units, not exactly the {len(removed)} removed")
    summary = {u: (p, e) for u, p, e in rows(
        con, f"SELECT unit_path, perm, n_err FROM {pq(out + '/summary')}")}
    if summary != state:
        problems.append(f"resolved summary: {len(set(summary.items()) ^ set(state.items()))} "
                        "units differ from the closed form")
    for n, w in zip(info["attempted"], want):
        if int(n) != len(w):
            problems.append(f"slice summary attempted {n} != {len(w)}")
            break


def canon(df):
    """Sorted columns and rows, integer/str/rounded-float values (the
    comparison tools/check_oracle.py makes)."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except Exception:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


PAIR_GATE_SQL = """
WITH c AS (
  SELECT image_id, CAST(regexp_extract(image_id, '^thing:(\\d+)/', 1) AS BIGINT) AS id,
         caption, w, h FROM {store}),
n AS (
  SELECT image_id, w, h, TRIM(CASE
    WHEN id % 10 = 3 THEN regexp_replace(caption, '<[^>]*>', '', 'g')
    WHEN id % 10 = 7 THEN replace(caption, 'â€”', '—')
    ELSE caption END) AS cc FROM c),
m AS (
  SELECT image_id,
    CAST(((w + 13) // 14) * ((h + 13) // 14) AS BIGINT) AS n_patches,
    CAST(length(regexp_split_to_array(cc, '\\s+')) AS BIGINT) AS caption_tokens,
    CASE WHEN length(cc) > 0 THEN CAST(FLOOR(length(regexp_replace(cc, '[^A-Za-z]', '', 'g'))
      * 1000.0 / length(cc)) AS BIGINT) END AS caption_alpha_permille,
    (LEAST(w, h) >= 16 AND w <= 2 * h AND h <= 2 * w) AS keep_image
  FROM n)
SELECT image_id, n_patches, caption_tokens, keep_image,
  (caption_tokens >= 3 AND coalesce(caption_alpha_permille >= 780, false)) AS keep_caption,
  (keep_image AND caption_tokens >= 3 AND coalesce(caption_alpha_permille >= 780, false)) AS keep
FROM m"""


def check_analytics(res, problems):
    import pandas as pd
    info = res["info"]
    out = os.path.join(WORK, "out", "analytics")
    con = duck()
    sf = info["sf"]
    for t in ("part", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {pq(sf + '/' + t + '.parquet')}")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for name in sorted(oracle):
        spark = pd.read_parquet(os.path.join(out, name))
        a, b = canon(spark), canon(con.execute(oracle[name]).df())
        if list(a.columns) != list(b.columns) or len(a) != len(b) or not a.equals(b):
            problems.append(f"{name}: rows differ from its DuckDB restatement "
                            f"(spark {len(a)} rows, duckdb {len(b)})")
    if info["pair_gate_ok"] == "true":
        spark = pd.read_parquet(os.path.join(out, "pair_gate"))
        cols = ["image_id", "n_patches", "caption_tokens", "keep_image", "keep_caption", "keep"]
        want = con.execute(PAIR_GATE_SQL.format(store=pq(info["images"]))).df()
        if not canon(spark[cols]).equals(canon(want[cols])):
            problems.append("pair gate differs from its DuckDB restatement")


# ---------------------------------------------------------------- main

def main():
    workloads, end_to_end, per_layer = spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(SRC, "scala", "graft")):
        fail(f"program sources not found under {SRC}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    res = run_jvm(cp, args)

    # every run checks its own workload's outputs; a traced run also checks
    # the resume sequence its layer probes ran
    problems = []
    checks = {"full": check_full_crawl, "resume": check_resume,
              "analytics": check_analytics}
    own = {"full_crawl": "full", "corpus_analytics": "analytics"}[args.workload]
    for kind, check in checks.items():
        if os.path.isdir(os.path.join(WORK, "out", kind)):
            check(res, problems)
        elif kind == own:
            problems.append(f"no {kind} outputs to check")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if args.workload == "corpus_analytics":
        # the one operation kept although it fails: the pair gate, once per
        # pass, and only by the known fault (a zero-length caption divides
        # by zero in MultimodalOps.pairGate)
        passes = attempted // 11
        if failed not in (0, passes):
            problems.append(f"pair gate failed in {failed} of {passes} passes")
        if failed:
            err = res["info"].get("pair_gate_error")
            origin = res["info"].get("pair_gate_origin", "")
            print(f"failed operation: pair_gate ({err} at {origin}), {failed} of {attempted}")
            if err != "DIVIDE_BY_ZERO" or not origin.startswith("MultimodalOps.scala:"):
                problems.append(f"pair gate failed with {err} at {origin}, not the known "
                                "DIVIDE_BY_ZERO in MultimodalOps.scala")
    elif failed:
        problems.append(f"{failed} operations failed")
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    units = per_layer if args.trace else end_to_end
    missing = [n for n in units if res["metrics"].get(n) is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    metrics = {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()}
    shutil.rmtree(os.path.join(WORK, "roots"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
