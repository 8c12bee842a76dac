"""The two workloads: what each operation is and how its output is checked.

Each workload prepares its inputs (timed into ``setup_s``), names its
operation classes so the runner can call each once cold and then warm
it, and runs whole rounds of the same operations. Every operation's
output is compared with values ``gen`` computed from the inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import gen
from harness import dir_bytes
from harness import timed as _timed

#: jobs in the dump that report_queries ingests in set-up and queries
DUMP_JOBS = 6000
#: history: day windows, jobs ending per day, days replayed by the second pass
HIST_DAYS = 4
HIST_JOBS_PER_DAY = 800
HIST_REPLAY_DAYS = 1
FAILED_SQL_STATES = ("FAILED", "NODE_FAIL", "OUT_OF_MEMORY", "TIMEOUT")


@dataclass
class Op:
    """One finished operation as the runner records it."""

    cls: str
    wall: float
    rows: int                     # input rows the operation worked on
    returned: int = 0             # rows in the output shown to the user
    failed: str | None = None     # the operation did not complete its work
    wrong: str | None = None      # it completed, with a wrong output


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _sum(values) -> float:
    return sum(v for v in values if v is not None)


def dump_truth(dump: gen.Dump) -> dict:
    """Column sums and State counts the ingested table must reproduce."""
    rs = dump.records
    return {
        "rows": len(rs),
        "Elapsed": _sum(r.elapsed for r in rs),
        "CPUTime": _sum(r.cputime for r in rs),
        "TotalCPU": _sum(r.total_cpu for r in rs),
        "UserCPU": _sum(r.usercpu for r in rs),
        "Submit": _sum(r.submit for r in rs),
        "Start": _sum(r.start for r in rs),
        "End": _sum(r.end for r in rs),
        "AllocMem": _sum(r.alloc_mem for r in rs),
        "TotalMem": _sum(r.total_mem for r in rs),
        "MaxRSS": _sum(r.max_rss for r in rs),
        "TotDiskRead": _sum(r.disk_read for r in rs),
        "TotDiskWrite": _sum(r.disk_write for r in rs),
        "MaxDiskRead": _sum(r.max_disk_read for r in rs),
        "ExitCode": _sum(r.exit_code for r in rs),
        "ExitSignal": _sum(r.exit_signal for r in rs),
        "states": dict(Counter(r.state for r in rs)),
    }


def check_table(spark, table: str, truth: dict) -> str | None:
    """Compare the stored table's column sums and State counts with the
    generator's. Returns a description of the first mismatch."""
    from pyspark.sql import functions as F

    from slurm2sql_spark.sinks.parquet_sink import read_table

    df = read_table(spark, table)
    cols = [k for k in truth if k not in ("rows", "states")]
    got = df.agg(F.count(F.lit(1)).alias("rows"),
                 *[F.sum(c).alias(c) for c in cols]).collect()[0].asDict()
    if got["rows"] != truth["rows"]:
        return f"rows {got['rows']} != {truth['rows']}"
    for c in cols:
        if got[c] is None or not _close(float(got[c]), float(truth[c])):
            return f"sum({c}) {got[c]} != {truth[c]}"
    states = {r[0]: r[1] for r in df.groupBy("State").count().collect()}
    if states != truth["states"]:
        return f"State counts {states} != {truth['states']}"
    effs = df.agg(F.min("CPUEff"), F.max("CPUEff"), F.min("MemEff"),
                  F.max("MemEff")).collect()[0]
    if not (effs[0] >= 0 and effs[1] <= 1 and effs[2] >= 0 and effs[3] <= 1):
        return f"efficiency outside [0, 1]: {tuple(effs)}"
    return None


def ingest_dump(spark, dump: gen.Dump, table: str) -> tuple[int, int]:
    """Ingest the dump: ``sacct_dump_scan`` -> ``slurm_transform`` ->
    ``write_overwrite``, then the malformed-line count. Returns the rows
    written and the malformed lines."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.transform import slurm_transform
    from slurm2sql_spark.sinks.parquet_sink import write_overwrite
    from slurm2sql_spark.sources.csv_source import sacct_dump_scan

    obs = Observation()
    ok, bad = sacct_dump_scan(spark, dump.path)
    typed = slurm_transform(ok, now=dump.now)
    write_overwrite(typed.observe(obs, F.count(F.lit(1)).alias("n")), table)
    return obs.get["n"], bad.count()


class HistoryUpsert:
    """Day windows through ``ingest_history``, each window fetched by
    ``api.ingest(sacct_options=...)`` from the stub sacct, then a replay
    of the last day in which the running jobs have ended."""

    name = "history_upsert"

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.table = str(work / "table")
        self._warm_next = None

    def prepare(self) -> None:
        self.hist = gen.make_history(self.seed, str(self.work / "inputs"), HIST_DAYS,
                                     HIST_JOBS_PER_DAY, HIST_REPLAY_DAYS)

    def _reset(self, table: str) -> None:
        from slurm2sql_spark.streaming.history import _state_path

        shutil.rmtree(table, ignore_errors=True)
        if os.path.exists(_state_path(table)):
            os.remove(_state_path(table))

    def run_pass(self, table: str, stub: str, start: int, stop: int) -> list[float]:
        """One ``ingest_history`` call; returns each window's wall (its
        fetch, upsert and watermark, up to the next window's fetch)."""
        from slurm2sql_spark import api
        from slurm2sql_spark.streaming.history import ingest_history

        marks: list[float] = []

        def fetch(ws: int, we: int):
            marks.append(time.perf_counter())
            opts = {"start": gen.bound_str(ws), "end": gen.bound_str(we), "sacct_bin": stub}
            return api.ingest(self.spark, sacct_options=opts, now=self.hist.stop)

        ingest_history(self.spark, fetch, table, start_ts=start, stop_ts=stop,
                       now=self.hist.stop)
        marks.append(time.perf_counter())
        return [b - a for a, b in zip(marks, marks[1:])]

    def _day_counts(self, table: str) -> dict:
        from pyspark.sql import functions as F

        from slurm2sql_spark.sinks.parquet_sink import read_table

        day = ((F.col("JobIDonly") - gen.HIST_FIRST_JID) / HIST_JOBS_PER_DAY).cast("int")
        rows = read_table(self.spark, table).groupBy(day.alias("d")).count().collect()
        return {r["d"]: r["count"] for r in rows}

    def _stale_days(self, table: str) -> set:
        """Days holding a re-stamped job whose stored State is not its latest."""
        from pyspark.sql import functions as F

        from slurm2sql_spark.sinks.parquet_sink import read_table

        ids = sorted(self.hist.restamped)
        got = read_table(self.spark, table).filter(F.col("JobID").isin(ids)) \
            .select("JobID", "State").collect()
        seen = {r["JobID"]: r["State"] for r in got}
        return {(int(j) - gen.HIST_FIRST_JID) // HIST_JOBS_PER_DAY for j in ids
                if seen.get(j) != self.hist.final[j]}

    def run_round(self) -> list[Op]:
        from slurm2sql_spark.streaming.history import get_watermark

        h = self.hist
        self._reset(self.table)
        ops: list[Op] = []
        passes = ((h.stub1, h.start, h.stop, h.windows1),
                  (h.stub2, h.replay_start, h.stop, h.windows2))
        counts_after_first = None
        for i, (stub, start, stop, windows) in enumerate(passes):
            try:
                walls = self.run_pass(self.table, stub, start, stop)
            except Exception as e:  # the pass stopped: none of its windows committed
                ops += [Op("window", 0.0, 0, failed=f"{type(e).__name__}: {e}")
                        for _ in windows]
                continue
            counts = self._day_counts(self.table)
            stale = self._stale_days(self.table) if i == 1 else set()
            for (ws, we, n), wall in zip(windows, walls):
                d = (ws - h.start) // gen.DAY
                op = Op("window", wall, n)
                if we - ws == gen.DAY and counts.get(d, 0) != n:
                    # sacct's exit status is not checked, so a failed
                    # fetch shows only as a window with missing rows
                    op.failed = f"window {gen.bound_str(ws)}: {counts.get(d, 0)} rows != {n}"
                elif d in stale:
                    op.failed = f"window {gen.bound_str(ws)}: re-stamped job kept its old State"
                ops.append(op)
            if len(walls) != len(windows):
                ops.append(Op("window", 0.0, 0, wrong=f"{len(walls)} windows != {len(windows)}"))
            if i == 0:
                counts_after_first = sum(counts.values())
            elif sum(counts.values()) != counts_after_first:
                ops[-1].wrong = "replaying windows changed the row count"
        err = self._round_check(get_watermark(self.table))
        if err:
            ops[-1].wrong = err
        return ops

    def _round_check(self, watermark) -> str | None:
        from pyspark.sql import functions as F

        from slurm2sql_spark.sinks.parquet_sink import read_table

        df = read_table(self.spark, self.table)
        n, distinct = df.agg(F.count(F.lit(1)), F.countDistinct("JobID")).collect()[0]
        if n != distinct or n != len(self.hist.final):
            return f"{n} rows, {distinct} JobIDs, expected one row for each of {len(self.hist.final)}"
        if watermark != self.hist.stop:
            return f"watermark {watermark} != last window end {self.hist.stop}"
        return None

    def warm_window(self) -> Op:
        """The next window into a scratch table. The first call writes
        two windows (the first write and one merge), each later call
        one more, cycling through the first pass's days."""
        h = self.hist
        scratch = str(self.work / "warm_table")
        if self._warm_next is None or self._warm_next >= h.stop:
            self._reset(scratch)
            self._warm_next = h.start + gen.DAY
            walls = self.run_pass(scratch, h.stub1, h.start, self._warm_next)
        else:
            walls = []
        ws = self._warm_next
        self._warm_next += gen.DAY
        walls += self.run_pass(scratch, h.stub1, ws, self._warm_next)
        return Op("window", sum(walls), 0)

    def op_classes(self) -> dict:
        return {"window": self.warm_window}

    WARM = (0.1, 2, 3)

    def warm_unit(self) -> list[Op]:
        return [self.warm_window()]

    def final_check(self) -> str | None:
        return None  # every round ends with _round_check

    def table_bytes_per_input_byte(self) -> float:
        return dir_bytes(self.table) / self.hist.n_bytes


def parse_simple(text: str) -> tuple[list[str], list[list[str]]]:
    """Split ``format_table``'s simple layout into header and cells,
    using the dashed rule under the header for the column widths."""
    lines = text.split("\n")
    widths = [len(d) for d in lines[1].split(" ")]

    def cells(line: str) -> list[str]:
        out, pos = [], 0
        for w in widths:
            out.append(line[pos:pos + w].strip())
            pos += w + 1
        return out

    return cells(lines[0]), [cells(line) for line in lines[2:]]


class ReportQueries:
    """Read-only reports over a table of the dump: per-job ``seff``,
    ``seff --aggregate-user``, ``sacct`` with user/state/time selectors
    and bare-JobID lookups, in a seeded fixed mix."""

    name = "report_queries"
    #: one round: (class, count)
    MIX = (("seff_job", 2), ("seff_user", 1), ("sacct_select", 2), ("job_lookup", 3))

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.table = str(work / "table")
        self.round_no = 0

    def prepare(self) -> None:
        from slurm2sql_spark.operators.transform import slurm_transform
        from slurm2sql_spark.sinks.parquet_sink import write_overwrite
        from slurm2sql_spark.sources.csv_source import sacct_dump_scan

        self.dump = gen.make_dump(self.seed, str(self.work / "inputs"), DUMP_JOBS)
        self.truth = dump_truth(self.dump)
        self.n_rows = len(self.dump.records)
        ok, _ = sacct_dump_scan(self.spark, self.dump.path)
        write_overwrite(slurm_transform(ok, now=self.dump.now), self.table)
        jobs = self.dump.jobs
        self.by_id = {j.jid: j for j in jobs}
        self.ended = [j for j in jobs if j.ended]
        cpu_days: dict = {}
        for j in self.ended:
            cpu_days[j.user] = cpu_days.get(j.user, 0.0) + j.alloc.elapsed * int(j.alloc.fields["NCPUS"])
        self.cpu_days = {u: v / 86400 for u, v in cpu_days.items()}
        self.users = sorted({j.user for j in jobs})
        rng = random.Random(self.seed * 31 + 7)
        self.targets = {
            "seff_job": [rng.choice(self.ended).jid for _ in range(16)],
            "job_lookup": [rng.choice(jobs).jid for _ in range(24)],
            "sacct_select": [self._selector(rng, k) for k in range(16)],
        }

    def _selector(self, rng: random.Random, k: int) -> tuple:
        """The k-th selector: one of the four busiest users and a state
        flag by position, so result sizes are alike for every seed; a
        seeded three-day window."""
        user = self.users[k % 4]
        flag = ("--completed", "--failed")[k % 2]
        d0 = rng.randint(0, 10)
        lo, hi = gen.T0 + d0 * gen.DAY, gen.T0 + (d0 + 3) * gen.DAY
        states = ("COMPLETED",) if flag == "--completed" else FAILED_SQL_STATES
        n = sum(1 for j in self.dump.jobs for r in j.records
                if r.user == user and r.state in states
                and (r.end is None or r.end >= lo)
                and r.start is not None and r.start <= hi)
        return (["--user", user, flag, "-S", gen.bound_str(lo), "-E", gen.bound_str(hi)], n)

    # -- the four operation classes -------------------------------------
    def seff_job(self, jid: str) -> Op:
        from slurm2sql_spark.cli import seff_cli

        wall, text = _timed(seff_cli, self.spark, ["--db", self.table, jid])
        head, rows = parse_simple(text)
        op = Op("seff_job", wall, self.n_rows, len(rows))
        job = self.by_id[jid]
        if len(rows) != 1 or rows[0][head.index("JobID")] != jid:
            op.wrong = f"seff {jid}: rows {rows}"
            return op
        row = dict(zip(head, rows[0]))
        cpu = float(row["CPUeff"].rstrip("%"))
        mem = float(row["MemEff"].rstrip("%"))
        want_cpu = 100 * job.cpu_used / job.alloc.cputime
        want_mem = 100 * job.mem_eff
        if not (0 <= cpu <= 100 and 0 <= mem <= 100):
            op.wrong = f"seff {jid}: efficiency outside [0, 100%]: {cpu} {mem}"
        elif abs(cpu - want_cpu) > 0.51 or abs(mem - want_mem) > 0.51 or row["User"] != job.user:
            op.wrong = f"seff {jid}: {row['User']} {cpu}% {mem}% != {job.user} {want_cpu:.2f}% {want_mem:.2f}%"
        return op

    def seff_user(self) -> Op:
        from slurm2sql_spark.cli import seff_cli

        wall, text = _timed(seff_cli, self.spark, ["--db", self.table, "--aggregate-user"])
        head, rows = parse_simple(text)
        op = Op("seff_user", wall, self.n_rows, len(rows))
        got = {r[head.index("User")]: float(r[head.index("cpu_day")]) for r in rows}
        if set(got) != set(self.cpu_days):
            op.wrong = f"aggregate-user users {sorted(got)} != {sorted(self.cpu_days)}"
        else:
            for u, want in self.cpu_days.items():
                # one decimal, and format_table's six significant digits
                if abs(got[u] - want) > max(0.051, 1e-5 * want):
                    op.wrong = f"aggregate-user {u}: cpu_day {got[u]} != {want:.3f}"
                    break
        return op

    def sacct_select(self, sel: tuple) -> Op:
        from slurm2sql_spark.cli import sacct_cli

        argv, want = sel
        wall, text = _timed(sacct_cli, self.spark, ["--db", self.table] + argv)
        _, rows = parse_simple(text)
        op = Op("sacct_select", wall, self.n_rows, len(rows))
        if len(rows) != want:
            op.wrong = f"sacct {' '.join(argv)}: {len(rows)} rows != {want}"
        return op

    def job_lookup(self, jid: str) -> Op:
        from slurm2sql_spark.cli import sacct_cli

        wall, text = _timed(sacct_cli, self.spark, ["--db", self.table, jid])
        head, rows = parse_simple(text)
        op = Op("job_lookup", wall, self.n_rows, len(rows))
        got = sorted(r[head.index("JobID")] for r in rows)
        want = sorted(r.fields["JobID"] for r in self.by_id[jid].records)
        if got != want:
            op.wrong = f"sacct {jid}: {got} != {want}"
        return op

    def _call(self, cls: str, k: int) -> Op:
        if cls == "seff_user":
            return self.seff_user()
        t = self.targets[cls]
        return getattr(self, cls)(t[k % len(t)])

    def op_classes(self) -> dict:
        return {cls: (lambda c=cls: self._call(c, 1000)) for cls, _ in self.MIX}

    def run_round(self) -> list[Op]:
        k = self.round_no
        self.round_no += 1
        return [self._call(cls, k * n + i) for cls, n in self.MIX for i in range(n)]

    # sub-second reports keep getting faster for about ten rounds (round
    # wall 4.3 s -> 2.7 s by the fourth -> 2.0 s by the tenth on 4 cores);
    # the run budget allows three or four whole rounds of warm-up
    WARM = (0.05, 3, 4)
    warm_unit = run_round

    def user_rollup_check(self) -> str | None:
        """``views.user_rollup`` job counts and CPU-days per user."""
        from slurm2sql_spark.operators.views import eff, user_rollup
        from slurm2sql_spark.sinks.parquet_sink import read_table

        rows = user_rollup(eff(read_table(self.spark, self.table))).collect()
        njobs = Counter(j.user for j in self.dump.jobs)
        all_days: dict = {}
        for j in self.dump.jobs:
            all_days[j.user] = all_days.get(j.user, 0.0) + \
                j.alloc.elapsed * int(j.alloc.fields["NCPUS"]) / 86400
        for r in rows:
            if r["NJobs"] != njobs[r["User"]] or not _close(r["CpuDays"], all_days[r["User"]]):
                return f"user_rollup {r['User']}: {r['NJobs']} jobs {r['CpuDays']} days"
        if len(rows) != len(njobs):
            return f"user_rollup: {len(rows)} users != {len(njobs)}"
        return None

    def final_check(self) -> str | None:
        """The table built in set-up, against the generator's sums and
        State counts, then the user rollup."""
        return check_table(self.spark, self.table, self.truth) or self.user_rollup_check()

    def table_bytes_per_input_byte(self) -> float:
        return dir_bytes(self.table) / self.dump.n_bytes


WORKLOADS = {w.name: w for w in (HistoryUpsert, ReportQueries)}
