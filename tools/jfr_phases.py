#!/usr/bin/env python3
"""Split a JFR recording's CPU samples by engine phase.

    tools/jfr_phases.py <recording.jfr> [--skip S] [--until S] [--top N]

Record a run with the JDK's flight recorder, e.g.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
      python3 perfbench/run.py --workload cdc_trickle --seed 811 --seconds 12 --trace 0

after one run without the recorder has built the benchmark (so that only
the workload's JVM records), then run this script on the file. It reads
the recording's `jdk.ExecutionSample` events through the JDK's own `jfr`
tool (`jfr print --json --stack-depth 400`), so it needs nothing but a JDK
on the PATH (or JAVA_HOME).

Each sample is put in a thread group (the streaming query's micro-batch
thread, Spark's executor task threads, everything else) and in the phase
of the innermost stack frame that names one:

    codegen        code generation and its Janino compile (not the
                   generated code's run, nor its runtime helpers)
    streamfs       graft.streaming.StreamFs: the SCD2 protocol's file work
    parquet write  Spark's file writer and parquet's record writer
    parquet read   parquet readers and Spark's parquet scan
    aqe            adaptive query execution
    optimizer      the logical optimizer's rules
    analysis       the analyzer's rules
    planning       physical planning and the preparation rules
    other          any sample none of the above claims

Innermost wins: a compile that adaptive execution triggers counts as
codegen, a history scan that runs inside the write task counts as a read,
and the write task's own sort counts as the write. A thread that waits on
a job is parked, not sampled, so the stream thread's samples are the CPU
it spends outside jobs. The sampling period is the recording's (10 ms
under `settings=profile`), and the JVM samples only a few running threads
per period, so the counts are samples: compare shares, or counts per
operation between two runs, not milliseconds.
"""

import argparse
import collections
import datetime
import json
import os
import shutil
import subprocess
import sys

# (phase, prefixes of `class.method`); a frame matches its first phase
# here. The parquet prefixes name readers and writers, not the encoders
# both share, so an encoder frame takes the phase of the reader or writer
# that calls it.
PHASES = (
    ("codegen", ("org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
                 "org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext",
                 "org.apache.spark.sql.catalyst.expressions.codegen.Generate",
                 "org.apache.spark.sql.execution.WholeStageCodegenExec.doCodeGen")),
    ("streamfs", ("graft.streaming.StreamFs",)),
    ("parquet write", ("org.apache.spark.sql.execution.datasources.FileFormatWriter",
                       "org.apache.spark.sql.execution.datasources.FileFormatDataWriter",
                       "org.apache.spark.sql.execution.datasources.SingleDirectoryDataWriter",
                       "org.apache.spark.sql.execution.datasources.DynamicPartitionDataSingleWriter",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter",
                       "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport",
                       "org.apache.parquet.hadoop.ParquetRecordWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.hadoop.ParquetFileWriter",
                       "org.apache.parquet.hadoop.ColumnChunkPageWriteStore",
                       "org.apache.parquet.column.impl.ColumnWriter")),
    ("parquet read", ("org.apache.parquet.hadoop.ParquetFileReader",
                      "org.apache.parquet.hadoop.ParquetReader",
                      "org.apache.parquet.hadoop.InternalParquetRecordReader",
                      "org.apache.parquet.column.impl.ColumnReader",
                      "org.apache.spark.sql.execution.datasources.parquet.Vectorized",
                      "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
                      "org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader",
                      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport",
                      "org.apache.spark.sql.execution.datasources.parquet.ParquetRowConverter",
                      "org.apache.spark.sql.execution.datasources.FileScanRDD")),
    ("aqe", ("org.apache.spark.sql.execution.adaptive.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("planning", ("org.apache.spark.sql.execution.SparkStrategies",
                  "org.apache.spark.sql.execution.SparkPlanner",
                  "org.apache.spark.sql.catalyst.planning.",
                  "org.apache.spark.sql.execution.exchange.EnsureRequirements",
                  "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution")),
)
ORDER = [p for p, _ in PHASES] + ["other"]
GROUPS = ("stream", "executor", "other threads")


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_phases: no `jfr` tool on the PATH or in JAVA_HOME")
    return found


def samples(path):
    """The recording's execution samples, decoded one event at a time: the
    whole JSON document of a minute-long run with deep stacks runs to
    gigabytes."""
    proc = subprocess.Popen(
        [jfr_tool(), "print", "--json", "--stack-depth", "400",
         "--events", "jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, text=True)
    decoder = json.JSONDecoder()
    buf, pos, started = "", 0, False
    while True:
        chunk = proc.stdout.read(1 << 20)
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            at = buf.find("[")
            if at < 0:
                if not chunk:
                    break
                continue
            pos, started = at + 1, True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos >= len(buf) or buf[pos] == "]":
                break
            try:
                event, pos = decoder.raw_decode(buf, pos)
            except json.JSONDecodeError:
                break  # an event cut by the chunk boundary: read on
            yield event
        if not chunk:
            break
    if proc.wait() != 0:
        sys.exit(f"jfr_phases: `jfr print` failed on {path}")


def instant(stamp):
    """Seconds since the epoch of a JFR time stamp such as
    `2026-10-19T23:02:12.525095980Z` (nanosecond digits beyond what
    `datetime` parses are dropped)."""
    day, _, frac = stamp.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(day).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + (float("0." + frac) if frac else 0.0)


def group_of(thread):
    name = (thread or {}).get("javaName") or ""
    if name.startswith("stream execution thread"):
        return "stream"
    if name.startswith("Executor task launch worker"):
        return "executor"
    return "other threads"


def frame_name(frame):
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f'{cls}.{m.get("name", "?")}'


def phase_of(frames):
    """Phase of the innermost frame that names one; JFR lists the top frame
    first."""
    for f in frames:
        name = frame_name(f)
        for phase, prefixes in PHASES:
            if name.startswith(prefixes):
                return phase
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--skip", type=float, default=0.0,
                    help="leave out the samples of the recording's first SKIP "
                         "seconds (counted from its first sample), e.g. a "
                         "benchmark's set-up")
    ap.add_argument("--until", type=float, default=float("inf"),
                    help="leave out the samples after the recording's first "
                         "UNTIL seconds, e.g. a benchmark's output checks")
    ap.add_argument("--top", type=int, default=0,
                    help="also list the N most sampled top frames of each "
                         "group's `other` phase")
    args = ap.parse_args()
    # (time, group, phase, top frame) per sample; the stacks are not kept
    seen = []
    for ev in samples(args.recording):
        v = ev["values"]
        frames = (v.get("stackTrace") or {}).get("frames") or []
        seen.append((instant(v["startTime"]), group_of(v.get("sampledThread")),
                     phase_of(frames), frame_name(frames[0]) if frames else "?"))
    start = min((t for t, _, _, _ in seen), default=0.0)
    counts = {g: collections.Counter() for g in GROUPS}
    other_tops = {g: collections.Counter() for g in GROUPS}
    for t, g, p, top in seen:
        if not args.skip <= t - start <= args.until:
            continue
        counts[g][p] += 1
        if p == "other":
            other_tops[g][top] += 1
    print("| phase | " + " | ".join(GROUPS) + " |")
    print("|---|" + "---|" * len(GROUPS))
    totals = {g: sum(counts[g].values()) for g in GROUPS}
    for p in ORDER:
        cells = []
        for g in GROUPS:
            n = counts[g][p]
            share = 100.0 * n / totals[g] if totals[g] else 0.0
            cells.append(f"{n} ({share:.0f} %)")
        print(f"| {p} | " + " | ".join(cells) + " |")
    print("| samples | " + " | ".join(str(totals[g]) for g in GROUPS) + " |")
    if args.top:
        for g in GROUPS:
            print(f"\n`other` on {g}, top frames:")
            for name, n in other_tops[g].most_common(args.top):
                print(f"  {n:6d}  {name}")


if __name__ == "__main__":
    main()
