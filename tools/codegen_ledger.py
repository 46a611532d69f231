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


def events(lines, sources):
    """The log as a sequence of ("job", site) and ("compile", key, ms)
    events, in log order. A compile's Janino time is the next "Code
    generated" line of the same thread."""
    out = []
    open_compile = {}
    for level, thread, logger, msg in records(lines):
        if logger == "DAGScheduler":
            m = GOT_JOB.match(msg[0])
            if m:
                out.append(["job", int(m.group(1)), m.group(2)])
        elif logger == "CodeGenerator":
            m = GENERATED.match(msg[0])
            if m:
                if thread in open_compile:
                    open_compile.pop(thread)[3] += float(m.group(1))
            elif level == "DEBUG" and len(msg) > 1:
                code = "\n".join(msg[1:]).strip()
                key = (side(thread),
                       hashlib.sha1(code.encode()).hexdigest()[:12])
                sources[key] = code
                ev = ["compile", key, thread, 0.0]
                open_compile[thread] = ev
                out.append(ev)
    return out


def ledger(lines, boundary, sources, first=False, phases=(),
           first_phase="all"):
    """Windows of compiles. A compile belongs to a job: an executor-side
    compile to the job running it (the last one submitted before it), a
    driver-side compile to the job its plan is built for (the next one
    submitted after it). A window opens at each job whose call site
    matches `boundary` or, with `first`, at such a job whose predecessor
    does not match (the first stream job after other work). Inside a
    window, `phases` [(name, regex)] advance in order: a phase begins at
    the first job of the current phase whose call site matches its
    regex. Names may repeat; their keys are counted together."""
    evs = events(lines, sources)
    jobs = [e for e in evs if e[0] == "job"]
    owner = {}
    last = None
    pending = []
    for e in evs:
        if e[0] == "job":
            for c in pending:
                owner[id(c)] = e
            pending = []
            last = e
        elif e[1][0] == "executor" and last is not None:
            owner[id(e)] = last
        else:
            pending.append(e)
    for c in pending:
        owner[id(c)] = last
    # per job: its window index and phase name
    where = {}
    w, ph, pos, prev_site = 0, first_phase, 0, None
    windows = [{"start_job": None, "compiles": [], "janino_ms": 0.0}]
    for j in jobs:
        site = j[2]
        opens = boundary.search(site) and not (
            first and prev_site is not None and boundary.search(prev_site))
        if opens:
            windows.append({"start_job": j[1], "compiles": [],
                            "janino_ms": 0.0})
            w, ph, pos = len(windows) - 1, first_phase, 0
        elif pos < len(phases) and phases[pos][1].search(site):
            ph, pos = phases[pos][0], pos + 1
        where[id(j)] = (w, ph, site)
        prev_site = site
    for e in evs:
        if e[0] != "compile":
            continue
        j = owner.get(id(e))
        wi, phase, site = where[id(j)] if j is not None else \
            (0, first_phase, "(no job)")
        windows[wi]["compiles"].append((e[1], site, phase))
        windows[wi]["janino_ms"] += e[3]
    return windows


def summarize(windows):
    seen = set()
    occurs = {}
    for i, w in enumerate(windows):
        for key, _, _ in w["compiles"]:
            occurs.setdefault(key, set()).add(i)
    rows = []
    for i, w in enumerate(windows):
        keys = {k for k, _, _ in w["compiles"]}
        new = keys - seen
        seen |= keys
        once = {}
        phases = {}
        for key, site, phase in w["compiles"]:
            if occurs[key] == {i} and key not in once:
                once[key] = site
            p = phases.setdefault(phase, {"keys": set(), "compiles": 0})
            p["keys"].add(key)
            p["compiles"] += 1
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
            "phases": {n: {"keys": len(p["keys"]),
                           "compiles": p["compiles"],
                           "new_keys": len(p["keys"] & new),
                           "never_reused": len(p["keys"] & set(once))}
                       for n, p in phases.items()},
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--boundary", default=r"^parquet at Main\.scala:182$",
                    help="regex on the job call site that opens a window")
    ap.add_argument("--boundary-first", metavar="REGEX",
                    help="open a window at the first job matching REGEX "
                         "after a job that does not (overrides --boundary)")
    ap.add_argument("--phase", action="append", default=[],
                    metavar="NAME=REGEX",
                    help="split each window: phase NAME begins at the first "
                         "later job matching REGEX (repeat, in order; a "
                         "repeated NAME continues that phase)")
    ap.add_argument("--first-phase", default="all",
                    help="name of the phase a window opens with")
    ap.add_argument("--skip", type=int, default=0,
                    help="windows of set-up to leave out of the summary")
    ap.add_argument("--dump", help="directory for never-reused sources")
    ap.add_argument("--sites", type=int, help="window to split by call site")
    a = ap.parse_args()
    sources = {}
    phases = [(p.split("=", 1)[0], re.compile(p.split("=", 1)[1]))
              for p in a.phase]
    with open(a.log, errors="replace") as fh:
        windows = ledger(fh, re.compile(a.boundary_first or a.boundary),
                         sources, first=a.boundary_first is not None,
                         phases=phases, first_phase=a.first_phase)
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
        for key, site, _ in windows[a.sites]["compiles"]:
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
    if phases:
        print("window phase keys compiles new_keys never_reused")
        for r in rows[1 + a.skip:]:
            for n, p in r["phases"].items():
                print(f"{r['window']:>6} {n:<10} {p['keys']:>4} "
                      f"{p['compiles']:>8} {p['new_keys']:>8} "
                      f"{p['never_reused']:>12}")
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
        pairs = [len({k for w in body[i:i + 2] for k, _, _ in w["compiles"]})
                 for i in range(len(body) - 1)]
        touched = [len({k for k, _, _ in w["compiles"]}) for w in body]
        print(f"summary: windows {len(body)}, compiles/window "
              f"{[r['compiles'] for r in steady]}, "
              f"new keys/window {[r['new_keys'] for r in steady]}")
        print(f"summary: keys/window max {max(touched)}, "
              f"two-window keys max {max(pairs)}")


if __name__ == "__main__":
    main()
