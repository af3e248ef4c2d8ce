"""Parse a Spark event log into a per-job timeline (round-12 measurement
aid, guide §1/§7): for each job — submission time, duration, driver gap
since the previous job finished, and the job description/call site. The
gaps expose driver think-time (planning, localCheckpoint barriers, Python
staging) that per-query wall timings can't attribute.

Usage: python tools/joblog_r12.py <event-log-file> [desc-filter]

Spark 4 writes zstd-compressed event logs (``*.zstd``) by default; they
are read with the ``zstandard`` module when it is installed, else by
piping through ``zstdcat`` from ``PATH``.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import subprocess
import sys


@contextlib.contextmanager
def open_event_log(path: str):
    """Text lines of an event log, decompressing ``*.zstd`` files."""
    if not path.endswith(".zstd"):
        with open(path) as f:
            yield f
        return
    try:
        import zstandard
    except ImportError:
        zstandard = None
    if zstandard is not None:
        with open(path, "rb") as raw:
            yield io.TextIOWrapper(zstandard.ZstdDecompressor().stream_reader(raw))
        return
    zstdcat = shutil.which("zstdcat")
    if zstdcat is None:
        sys.exit(
            f"{path} is zstd-compressed: install the zstandard module or put "
            "zstdcat on PATH (or write the log with "
            "spark.eventLog.compress=false)"
        )
    with subprocess.Popen([zstdcat, "-q", path], stdout=subprocess.PIPE, text=True) as proc:
        yield proc.stdout
    if proc.returncode:
        sys.exit(f"zstdcat failed on {path} (exit {proc.returncode})")


def main() -> None:
    path = sys.argv[1]
    flt = sys.argv[2] if len(sys.argv) > 2 else None
    jobs: dict[int, dict] = {}
    with open_event_log(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerJobStart":
                props = ev.get("Properties", {}) or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "desc": props.get("spark.job.description")
                    or props.get("callSite.short", ""),
                    "stages": len(ev.get("Stage IDs", [])),
                }
            elif ev.get("Event") == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    prev_end = None
    t0 = None
    total_run = total_gap = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        if flt and flt not in (j["desc"] or ""):
            prev_end = j["end"]
            continue
        if t0 is None:
            t0 = j["start"]
        dur = (j["end"] - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end is not None else 0.0
        total_run += dur
        total_gap += max(0.0, gap)
        print(
            f"job {jid:4d}  t+{(j['start'] - t0) / 1000.0:8.2f}s  "
            f"dur {dur:7.3f}s  gap {gap:7.3f}s  stages {j['stages']}  {j['desc'][:100]}"
        )
        prev_end = j["end"]
    print(f"-- total job run {total_run:.2f}s, total inter-job gap {total_gap:.2f}s")


if __name__ == "__main__":
    main()
