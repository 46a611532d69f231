#!/usr/bin/env python3
"""Per-window ledger of Spark's generated-code compiles.

Spark's codegen cache (`CodeGenerator.compile`) keys a compiled class on
the context classloader and the generated source. In local mode the
driver threads and the executor task threads use different loaders, so
one whole-stage class is two keys. This tool reads a log written with

  org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator  DEBUG
  org.apache.spark.scheduler.DAGScheduler                          INFO

(CodeGenerator logs each cache miss's source at DEBUG, one block per
compile) and splits it into windows at the jobs whose call site matches
`--boundary`: by default the `spark.read.parquet` schema job that opens
each corpus_refresh day. For each window it prints the compiles, the
Janino time, the distinct (source, loader side) keys touched and how many
of those were never seen in an earlier window; then, for every key that
occurs in only one window, the call site of the last job submitted before
its compile.

The loader side is read from the thread name: "Executor task launch
worker" threads compile with the executor loader, every other thread
with the driver's. The log layout must be tab-separated:

  appender.x.layout.pattern = %d{HH:mm:ss.SSS}\\t%p\\t%t\\t%c{1}\\t%m%n

Usage:
  python3 tools/codegen_ledger.py LOG [--boundary REGEX] [--skip N]
      [--dump DIR] [--sites W]

`--skip N` drops the first N windows (set-up) from the summary lines;
`--dump DIR` writes the source of every never-reused key to
DIR/w<window>-<side>-<key>.java; `--sites W` splits window W's keys by
the call site of the job before their first compile in it.

With the default cache the log shows misses only. To see every class a
window touches, run the measured JVM with
`-Dspark.sql.codegen.cache.maxEntries=1` (a measurement setting: each
access then misses, and the distinct keys are the working set).
"""
import argparse
import hashlib
import os
import re

HEADER = re.compile(r"^\d\d:\d\d:\d\d\.\d{3}\t(\w+)\t(.*?)\t(\S+)\t(.*)$")
GOT_JOB = re.compile(r"^Got job (\d+) \((.*)\) with ")
GENERATED = re.compile(r"^Code generated in ([0-9.]+) ms")


def records(lines):
    """(level, thread, logger, message) per log record; a record runs
    until the next header line."""
    cur = None
    for line in lines:
        m = HEADER.match(line.rstrip("\n"))
        if m:
            if cur:
                yield cur
            cur = [m.group(1), m.group(2), m.group(3), [m.group(4)]]
        elif cur:
            cur[3].append(line.rstrip("\n"))
    if cur:
        yield cur


def side(thread):
    return "executor" if thread.startswith("Executor task launch worker") \
        else "driver"


def ledger(lines, boundary, sources):
    windows = [{"start_job": None, "compiles": [], "janino_ms": 0.0}]
    last_site = "(before any job)"
    for level, thread, logger, msg in records(lines):
        if logger == "DAGScheduler":
            m = GOT_JOB.match(msg[0])
            if m:
                last_site = m.group(2)
                if boundary.search(last_site):
                    windows.append({"start_job": int(m.group(1)),
                                    "compiles": [], "janino_ms": 0.0})
        elif logger == "CodeGenerator":
            m = GENERATED.match(msg[0])
            if m:
                windows[-1]["janino_ms"] += float(m.group(1))
            elif level == "DEBUG" and len(msg) > 1:
                code = "\n".join(msg[1:]).strip()
                key = (side(thread),
                       hashlib.sha1(code.encode()).hexdigest()[:12])
                windows[-1]["compiles"].append((key, last_site))
                sources[key] = code
    return windows


def summarize(windows):
    seen = set()
    occurs = {}
    for i, w in enumerate(windows):
        for key, _ in w["compiles"]:
            occurs.setdefault(key, set()).add(i)
    rows = []
    for i, w in enumerate(windows):
        keys = {k for k, _ in w["compiles"]}
        new = keys - seen
        seen |= keys
        once = {}
        for key, site in w["compiles"]:
            if occurs[key] == {i} and key not in once:
                once[key] = site
        rows.append({
            "window": i,
            "start_job": w["start_job"],
            "compiles": len(w["compiles"]),
            "janino_s": round(w["janino_ms"] / 1e3, 3),
            "keys": len(keys),
            "keys_driver": sum(1 for s, _ in keys if s == "driver"),
            "keys_executor": sum(1 for s, _ in keys if s == "executor"),
            "new_keys": len(new),
            "never_reused": [{"side": k[0], "key": k[1], "after_job": s}
                             for k, s in once.items()],
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--boundary", default=r"^parquet at Main\.scala:182$",
                    help="regex on the job call site that opens a window")
    ap.add_argument("--skip", type=int, default=0,
                    help="windows of set-up to leave out of the summary")
    ap.add_argument("--dump", help="directory for never-reused sources")
    ap.add_argument("--sites", type=int, help="window to split by call site")
    a = ap.parse_args()
    sources = {}
    with open(a.log, errors="replace") as fh:
        windows = ledger(fh, re.compile(a.boundary), sources)
    rows = summarize(windows)
    if a.dump:
        os.makedirs(a.dump, exist_ok=True)
        for r in rows:
            for n in r["never_reused"]:
                name = f"w{r['window']}-{n['side']}-{n['key']}.java"
                with open(os.path.join(a.dump, name), "w") as fh:
                    fh.write(sources[(n["side"], n["key"])] + "\n")
    if a.sites is not None:
        first = {}
        for key, site in windows[a.sites]["compiles"]:
            first.setdefault(key, site)
        by = {}
        for (sd, _), site in first.items():
            by.setdefault(site, {"driver": 0, "executor": 0})[sd] += 1
        print(f"window {a.sites}: keys by job call site (driver, executor)")
        for site, c in sorted(by.items(), key=lambda kv: -sum(kv[1].values())):
            print(f"  {c['driver']:>3} {c['executor']:>3}  {site}")
    print("window start_job compiles janino_s keys driver executor new_keys")
    for r in rows:
        print(f"{r['window']:>6} {str(r['start_job']):>9} {r['compiles']:>8} "
              f"{r['janino_s']:>8.3f} {r['keys']:>4} {r['keys_driver']:>6} "
              f"{r['keys_executor']:>8} {r['new_keys']:>8}")
    for r in rows:
        if r["never_reused"]:
            print(f"window {r['window']}: {len(r['never_reused'])} never-reused keys")
            sites = {}
            for n in r["never_reused"]:
                sites.setdefault((n["after_job"], n["side"]), 0)
                sites[(n["after_job"], n["side"])] += 1
            for (site, sd), c in sorted(sites.items()):
                print(f"    {c:>3} {sd:<8} after job: {site}")
    # whole windows only: the first `skip` are set-up, the last may be cut
    body = [w for w in windows[1 + a.skip:]]
    steady = rows[1 + a.skip:]
    if len(body) >= 2:
        pairs = [len({k for w in body[i:i + 2] for k, _ in w["compiles"]})
                 for i in range(len(body) - 1)]
        touched = [len({k for k, _ in w["compiles"]}) for w in body]
        print(f"summary: windows {len(body)}, compiles/window "
              f"{[r['compiles'] for r in steady]}, "
              f"new keys/window {[r['new_keys'] for r in steady]}")
        print(f"summary: keys/window max {max(touched)}, "
              f"two-window keys max {max(pairs)}")


if __name__ == "__main__":
    main()
