#!/usr/bin/env python3
"""Per-call breakdown of a traced perfbench run.

    python3 tools/trace_calls.py .bench_build/traces/index_lifecycle-s5
    python3 tools/trace_calls.py <trace dir> --prefix index. --sites

Reads the `spans.jsonl`, `jobs.jsonl` and `execs.jsonl` that
`perfbench/run.py --trace 1` leaves in `.bench_build/traces/<workload>-s<seed>/`
and prints one row per timed call (each span whose name starts with
`--prefix`, by default the index calls `index.<op>.<kind>`, serves
excluded unless `--serves`): its wall ms, the Spark jobs that started
inside it, how many of those are schema-inference jobs (a job outside any
SQL execution whose call site is `parquet at ...`), the union of the jobs'
run time, the driver gap (wall minus that union: planning, listings,
ledger and manifest I/O, thread hand-offs) and the files its writes
produced. `--sites` adds each call's jobs by call site. Only reads the
trace files.

    python3 tools/trace_calls.py .bench_build/traces/hourly_ingest-s5 \
        --prefix pipeline.run --timeline

`--timeline` prints, instead of the table, one block per call: its
child spans grouped by name (count, first start and last end), then
every SQL execution and every job that started inside it, in start
order, each with its start and end in ms from the call's start. An
execution line also gives the dirs it read and wrote (last two path
components) and its files scanned and written; the jobs of an execution
are indented under it. This is the per-hour view of `hourly_ingest`:
it shows which steps of one hourly run overlap and which wait on each
other. A last line per call gives the wall-clock union of its append
executions (those that write a dir other than a `.staging` one), the
union of its refresh executions (those that write a `.staging` dir, or
only read: the MAX and the staged publish) and the ms where the two
overlap, so the overlap shows without the serial sums of the per-layer
`pipeline.append_ms` and `snapshot.ms`.

    python3 tools/trace_calls.py .bench_build/traces/index_lifecycle-s5 --rows

    python3 tools/trace_calls.py <change trace dir> \
        --against <parent trace dir> --prefix pipeline.run,streaming.drain

`--against` prints, instead of the table, each call's mean per run in
the two trace dirs side by side: its wall ms, jobs and files written,
parent (`_p`, the `--against` dir) then change (`_c`), and `ms_d`, the
change's wall ms relative to the parent's. A call seen in only one dir
shows `-` on the other side. `--prefix` takes a comma-separated list,
here as in every mode.

`--rows` prints, instead of the table, the data each call moves: one
line per SQL execution that started inside it (its rows and files
scanned, its rows and files written, and the dirs it read and wrote,
last two path components), a total line per call, then the mean per run
of each call's rows scanned, rows written, files scanned and files
written. All four come from `execs.jsonl`. This is the view that shows
whether a fold or delete reads and writes rows in proportion to its
batch or to the whole index.
"""
import argparse
import collections
import json
import os
import sys


def load(d, name):
    path = os.path.join(d, name)
    if not os.path.exists(path):
        sys.exit(f"trace_calls: no {name} in {d}")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_us(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def is_inference(job):
    return job["exec"] == -1 and job["site"].startswith("parquet at ")


def short(paths):
    return ",".join("/".join(p.rstrip("/").split("/")[-2:]) for p in paths) or "-"


def role(e):
    """`append`, `refresh` or None (neither reads nor writes a dir)."""
    if any(w.rstrip("/").endswith(".staging") for w in e["writes"]):
        return "refresh"
    if e["writes"]:
        return "append"
    return "refresh" if e["reads"] else None


def overlap_line(execs):
    spans = {"append": [], "refresh": []}
    for e in execs:
        r = role(e)
        if r:
            spans[r].append((e["start_us"], e["start_us"] + e["ms"] * 1e3))
    if not spans["append"] and not spans["refresh"]:
        return None
    a, r = union_us(spans["append"]), union_us(spans["refresh"])
    both = a + r - union_us(spans["append"] + spans["refresh"])
    return (f"  appends {a / 1e3:.0f} ms  refresh {r / 1e3:.0f} ms"
            f"  overlap {both / 1e3:.0f} ms")


def timeline(call, all_spans, jobs, execs):
    lo, hi = call["start_us"], call["end_us"]

    def ms(us):
        return (us - lo) / 1e3

    print(f"{call['name']} ({(hi - lo) / 1e3:.0f} ms)")
    kids = collections.defaultdict(list)
    for s in all_spans:
        if s["parent"] == call["id"]:
            kids[s["name"]].append(s)
    for name, ss in sorted(kids.items()):
        print(f"  span {name} x{len(ss):<4}"
              f"{ms(min(s['start_us'] for s in ss)):>8.0f}"
              f"{ms(max(s['end_us'] for s in ss)):>8.0f}")
    inside = [j for j in jobs if lo <= j["start_us"] <= hi]
    by_exec = collections.defaultdict(list)
    for j in inside:
        by_exec[j["exec"]].append(j)
    rows = [(e["start_us"], "exec", e) for e in execs
            if lo <= e["start_us"] <= hi]
    shown = {e["exec"] for _, _, e in rows}
    rows += [(j["start_us"], "job", j) for j in inside
             if j["exec"] not in shown]
    for _, kind, r in sorted(rows, key=lambda r: r[0]):
        if kind == "exec":
            end = r["start_us"] + r["ms"] * 1e3
            print(f"  exec {r['exec']:<8}{ms(r['start_us']):>8.0f}{ms(end):>8.0f}"
                  f"  read {short(r['reads'])} ({r['files_scanned']} files)"
                  f"  wrote {short(r['writes'])} ({r['files_written']} files)")
            nested = by_exec[r["exec"]]
        else:
            nested = [r]
        for j in sorted(nested, key=lambda j: j["start_us"]):
            print(f"  {'  ' if kind == 'exec' else ''}job {j['job']:<6}"
                  f"{ms(j['start_us']):>8.0f}{ms(j['end_us']):>8.0f}  {j['site']}")
    line = overlap_line([e for _, kind, e in rows if kind == "exec"])
    if line:
        print(line)


def call_rows(spans, jobs, execs):
    """Yields each span with its row of the table (wall ms, jobs,
    inference jobs, job ms, driver gap ms, files written) and its jobs."""
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        inside = [j for j in jobs if lo <= j["start_us"] <= hi]
        job_us = union_us([(max(lo, j["start_us"]), min(hi, j["end_us"]))
                           for j in inside])
        files = sum(e["files_written"] for e in execs
                    if lo <= e["start_us"] <= hi)
        wall_us = hi - lo
        yield s, collections.Counter(
            ms=wall_us / 1e3, jobs=len(inside),
            infer=sum(is_inference(j) for j in inside),
            job_ms=job_us / 1e3, gap_ms=(wall_us - job_us) / 1e3,
            files=files, runs=1), inside


def calls(trace_dir, prefixes, serves):
    """The spans named by `prefixes` in start order, the finished jobs
    and the executions of `trace_dir`."""
    all_spans = load(trace_dir, "spans.jsonl")
    spans = sorted((s for s in all_spans
                    if s["name"].startswith(prefixes)
                    and (serves or not s["name"].startswith("index.serve"))),
                   key=lambda s: s["start_us"])
    jobs = [j for j in load(trace_dir, "jobs.jsonl") if "end_us" in j]
    return spans, jobs, load(trace_dir, "execs.jsonl")


def means(trace_dir, prefixes, serves):
    """Mean row per run of each call in `trace_dir`, in first-seen order."""
    totals = collections.defaultdict(collections.Counter)
    for s, row, _ in call_rows(*calls(trace_dir, prefixes, serves)):
        totals[s["name"]].update(row)
    out = {}
    for name, t in totals.items():
        out[name] = {k: v / t["runs"] for k, v in t.items()}
        out[name]["runs"] = t["runs"]
    return out


def against(change_dir, parent_dir, prefixes, serves):
    before = means(parent_dir, prefixes, serves)
    after = means(change_dir, prefixes, serves)
    print(f"{'call':<22}{'runs_p':>7}{'runs_c':>7}{'ms_p':>8}{'ms_c':>8}"
          f"{'ms_d':>7}{'jobs_p':>7}{'jobs_c':>7}{'files_p':>8}{'files_c':>8}")

    def cell(row, key, width, fmt):
        return f"{row[key]:>{width}{fmt}}" if row else f"{'-':>{width}}"

    for name in list(before) + [n for n in after if n not in before]:
        b, c = before.get(name), after.get(name)
        pct = (f"{100 * (c['ms'] - b['ms']) / b['ms']:>+6.0f}%"
               if b and c and b["ms"] else f"{'-':>7}")
        print(f"{name:<22}{cell(b, 'runs', 7, '')}{cell(c, 'runs', 7, '')}"
              f"{cell(b, 'ms', 8, '.0f')}{cell(c, 'ms', 8, '.0f')}{pct}"
              f"{cell(b, 'jobs', 7, '.1f')}{cell(c, 'jobs', 7, '.1f')}"
              f"{cell(b, 'files', 8, '.1f')}{cell(c, 'files', 8, '.1f')}")


ROW_KEYS = ("rows_scanned", "rows_written", "files_scanned", "files_written")


def rows(spans, execs):
    seen = collections.Counter()
    totals = collections.defaultdict(collections.Counter)
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        inside = sorted((e for e in execs if lo <= e["start_us"] <= hi),
                        key=lambda e: e["start_us"])
        seen[s["name"]] += 1
        print(f"{s['name']} run {seen[s['name']]} ({(hi - lo) / 1e3:.0f} ms)")
        row = collections.Counter(runs=1)
        for e in inside:
            row.update({k: e[k] for k in ROW_KEYS})
            print(f"  exec {e['exec']:<8}scan {e['rows_scanned']:>8} rows"
                  f" {e['files_scanned']:>4} files  write {e['rows_written']:>8} rows"
                  f" {e['files_written']:>4} files"
                  f"  read {short(e['reads'])}  wrote {short(e['writes'])}")
        print(f"  total {len(inside)} execs, scan {row['rows_scanned']} rows"
              f" {row['files_scanned']} files, write {row['rows_written']} rows"
              f" {row['files_written']} files")
        totals[s["name"]].update(row)
    print()
    print("mean per run")
    print(f"{'call':<22}{'run':>4}{'rows_scan':>11}{'rows_write':>11}"
          f"{'files_scan':>11}{'files_write':>12}")
    for name, t in totals.items():
        n = t["runs"]
        print(f"{name:<22}{n:>4}{t['rows_scanned'] / n:>11.0f}"
              f"{t['rows_written'] / n:>11.0f}{t['files_scanned'] / n:>11.1f}"
              f"{t['files_written'] / n:>12.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace_dir")
    ap.add_argument("--prefix", default="index.",
                    help="span-name prefix of the calls to report; a "
                         "comma-separated list names several")
    ap.add_argument("--serves", action="store_true",
                    help="also report index.serve.* spans")
    ap.add_argument("--sites", action="store_true",
                    help="list each call's jobs by call site")
    ap.add_argument("--timeline", action="store_true",
                    help="print each call's spans, executions and jobs "
                         "with start/end offsets instead of the table")
    ap.add_argument("--rows", action="store_true",
                    help="print each call's rows and files scanned and "
                         "written, per execution, instead of the table")
    ap.add_argument("--against", metavar="PARENT_TRACE_DIR",
                    help="print each call's mean ms, jobs and files in this "
                         "dir and in trace_dir side by side")
    a = ap.parse_args()

    prefixes = tuple(a.prefix.split(","))
    if a.against:
        against(a.trace_dir, a.against, prefixes, a.serves)
        return
    spans, jobs, execs = calls(a.trace_dir, prefixes, a.serves)
    if a.timeline:
        all_spans = load(a.trace_dir, "spans.jsonl")
        for s in spans:
            timeline(s, all_spans, jobs, execs)
            print()
        return
    if a.rows:
        rows(spans, execs)
        return

    seen = collections.Counter()
    totals = collections.defaultdict(collections.Counter)
    header = (f"{'call':<22}{'run':>4}{'ms':>9}{'jobs':>6}{'infer':>6}"
              f"{'job_ms':>9}{'gap_ms':>9}{'files':>7}")
    print(header)
    for s, row, inside in call_rows(spans, jobs, execs):
        seen[s["name"]] += 1
        totals[s["name"]].update(row)
        print(f"{s['name']:<22}{seen[s['name']]:>4}{row['ms']:>9.0f}"
              f"{row['jobs']:>6}{row['infer']:>6}{row['job_ms']:>9.0f}"
              f"{row['gap_ms']:>9.0f}{row['files']:>7}")
        if a.sites:
            for site, n in collections.Counter(
                    j["site"] + (" [infer]" if is_inference(j) else "")
                    for j in inside).most_common():
                print(f"    {n:>3} x {site}")

    print()
    print("mean per run")
    print(header)
    grand = collections.Counter()
    for name, t in totals.items():
        n = t["runs"]
        grand.update(t)
        print(f"{name:<22}{n:>4}{t['ms'] / n:>9.0f}{t['jobs'] / n:>6.1f}"
              f"{t['infer'] / n:>6.1f}{t['job_ms'] / n:>9.0f}"
              f"{t['gap_ms'] / n:>9.0f}{t['files'] / n:>7.1f}")
    if grand["runs"]:
        n = max(seen.values())
        print(f"{'all calls / run':<22}{n:>4}{grand['ms'] / n:>9.0f}"
              f"{grand['jobs'] / n:>6.1f}{grand['infer'] / n:>6.1f}"
              f"{grand['job_ms'] / n:>9.0f}{grand['gap_ms'] / n:>9.0f}"
              f"{grand['files'] / n:>7.1f}")

if __name__ == "__main__":
    main()
