"""Seeded synthetic ``sacct -P`` inputs and their true values.

Everything the benchmark feeds the program comes from here, and so does
everything it checks the program's outputs against: each record's typed
values are computed from the same integers that are formatted into the
text, never by parsing the program's output.

- ``make_dump``: one dump file of jobs with batch, extern and numbered
  steps, TRES strings, durations, sizes, mixed States, some GPU jobs and
  a fixed number of planted malformed lines.
- ``make_history``: per-day slices for two weeks of day windows plus a
  replay pass, each served by a stub ``sacct`` executable.
"""

from __future__ import annotations

import os
import random
import stat
from dataclasses import dataclass, field
from datetime import datetime, timezone

DELIM = ";|;"

COLUMNS = (
    "JobID", "JobIDRaw", "JobName", "User", "Group", "Account", "Partition",
    "State", "Submit", "Start", "End", "Elapsed", "Timelimit", "NNodes",
    "NCPUS", "ReqCPUS", "AllocCPUS", "NTasks", "Priority", "NodeList",
    "ReqMem", "ReqTRES", "AllocTRES", "TRESUsageInTot", "TRESUsageOutTot",
    "CPUTime", "UserCPU", "SystemCPU", "MaxRSS", "AveRSS", "MaxDiskRead",
    "MaxDiskWrite", "ExitCode", "SubmitLine", "Comment",
)
_JOBNAME_IDX = COLUMNS.index("JobName")

#: 2026-03-02 00:00:00 UTC, a Monday; all generated times are after it.
T0 = 1772409600
DAY = 86400

N_USERS = 24
FINAL_STATES = (
    ("COMPLETED", 70), ("FAILED", 10), ("TIMEOUT", 6),
    ("CANCELLED by 1234", 6), ("OUT_OF_MEMORY", 4), ("NODE_FAIL", 1),
)
#: planted malformed lines per dump: split records give two short lines each
SPLIT_RECORDS = 12
LONG_LINES = 13
MALFORMED_LINES = 2 * SPLIT_RECORDS + LONG_LINES
#: history jobs are numbered from here, day by day
HIST_FIRST_JID = 2_000_001
#: a resumed history restarts this long before its watermark
#: (``streaming.history.RESUME_REWIND_S``)
RESUME_REWIND_S = 5

# the stub serves the slice named after the exact window bounds
STUB_SACCT = r"""#!/bin/sh
# sacct stand-in: prints the pre-generated slice for --starttime/--endtime
# and fails like sacct on a window it has no slice for.
s=; e=
for a in "$@"; do
  case "$a" in
    --starttime=*) s=${a#--starttime=} ;;
    --endtime=*) e=${a#--endtime=} ;;
  esac
done
f="$(dirname "$0")/slices/${s}_${e}.txt"
if [ ! -f "$f" ]; then
  echo "sacct: no slice for window '$s'..'$e'" >&2
  exit 3
fi
exec cat "$f"
"""


def ts_str(t: int) -> str:
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def bound_str(t: int) -> str:
    """A window bound as ``SacctReader.partitions`` renders it."""
    d = datetime.fromtimestamp(t, timezone.utc)
    if d.hour == d.minute == d.second == 0:
        return d.strftime("%Y-%m-%d")
    return d.strftime("%Y-%m-%dT%H:%M:%S")


def _dur(sec: int) -> str:
    d, r = divmod(sec, DAY)
    h, r = divmod(r, 3600)
    m, s = divmod(r, 60)
    return f"{d}-{h:02}:{m:02}:{s:02}" if d else f"{h:02}:{m:02}:{s:02}"


def _cpu_dur(ms: int) -> tuple[str, float]:
    """UserCPU/SystemCPU text (``MM:SS.mmm`` below an hour, as sacct
    prints it) and the seconds that text stands for."""
    if ms < 3_600_000:
        m, r = divmod(ms, 60_000)
        return f"{m:02}:{r // 1000:02}.{r % 1000:03}", m * 60 + (r // 1000) + (r % 1000) / 1000
    sec = ms // 1000
    return _dur(sec), float(sec)


@dataclass
class Record:
    """One sacct line and the typed values the transform must produce."""

    fields: dict
    user: str | None
    state: str
    elapsed: float
    cputime: float
    usercpu: float
    submit: int | None
    start: int | None
    end: int | None
    alloc_mem: float | None
    total_cpu: float | None = None
    total_mem: float | None = None
    max_rss: float | None = None
    disk_read: float | None = None
    disk_write: float | None = None
    max_disk_read: int | None = None
    exit_code: int = 0
    exit_signal: int = 0

    def line(self) -> str:
        return DELIM.join(self.fields.get(c, "") for c in COLUMNS)


@dataclass
class Job:
    jid: str
    user: str
    state: str
    records: list = field(default_factory=list)

    @property
    def alloc(self) -> Record:
        return self.records[0]

    @property
    def ended(self) -> bool:
        return self.alloc.end is not None

    @property
    def cpu_used(self) -> float:
        return sum(r.total_cpu or 0.0 for r in self.records)

    @property
    def mem_eff(self) -> float | None:
        effs = [r.total_mem / r.alloc_mem for r in self.records
                if r.total_mem is not None and r.alloc_mem]
        return max(effs) if effs else None


def _weighted(rng: random.Random, pairs) -> str:
    names = [p[0] for p in pairs]
    return rng.choices(names, weights=[p[1] for p in pairs])[0]


def _user_weights() -> list[float]:
    return [1.0 / (i + 1) ** 0.8 for i in range(N_USERS)]


def make_job(rng: random.Random, jid: int, day_start: int, running: bool = False) -> Job:
    """One job ending (or, if ``running``, started) inside the day that
    begins at ``day_start``: allocation row, batch step, sometimes an
    extern step, and 0-3 numbered steps."""
    user_i = rng.choices(range(N_USERS), weights=_user_weights())[0]
    user = f"u{user_i:02}"
    gpu = rng.random() < 0.1
    ncpus = rng.choice((1, 2, 4, 8, 16, 32))
    nnodes = 2 if ncpus == 32 else 1
    ngpus = rng.choice((1, 2, 4)) if gpu else 0
    elapsed = rng.randint(60, 2 * DAY)
    if running:
        start = day_start + rng.randint(0, DAY - 1)
        end = None
        elapsed = rng.randint(60, 6 * 3600)
    else:
        end = day_start + rng.randint(0, DAY - 1)
        start = end - elapsed
    submit = start - rng.randint(0, 3600)
    state = "RUNNING" if running else _weighted(rng, FINAL_STATES)
    exit_code, exit_signal = (0, 0) if state in ("COMPLETED", "RUNNING") else (
        rng.choice(((1, 0), (2, 0), (0, 9), (0, 15), (137, 0))))
    mem_gib = ncpus * rng.choice((1, 2, 4))
    alloc_mem = float(mem_gib * 1024 ** 3)
    timelimit = elapsed + rng.randint(0, DAY)
    partition = "gpu" if gpu else ("short" if elapsed < 4 * 3600 else "batch")
    gres = f",gres/gpu:a100={ngpus},gres/gpu={ngpus}" if gpu else ""
    tres_alloc = f"billing={ncpus},cpu={ncpus}{gres},mem={mem_gib}G,node={nnodes}"
    tres_req = f"billing={ncpus},cpu={ncpus}" + (f",gres/gpu={ngpus}" if gpu else "") + \
        f",mem={mem_gib}G,node={nnodes}"
    cputime = elapsed * ncpus
    st_end = "Unknown" if end is None else ts_str(end)
    jobname = f"sim_{rng.randint(0, 9999):04}"
    common = {"JobIDRaw": None, "Partition": partition, "Timelimit": _dur(timelimit),
              "NNodes": str(nnodes), "NodeList": f"n{rng.randint(1, 400):03}",
              "Group": f"g{user_i % 6}", "Account": f"proj{user_i % 9}"}

    def rec(jobid, fields, **kw) -> Record:
        f = dict(common)
        f.update(fields)
        f["JobID"] = jobid
        f["JobIDRaw"] = jobid
        ms = kw.pop("usercpu_ms", 0)
        text, val = _cpu_dur(ms)
        f["UserCPU"] = text
        f["SystemCPU"] = _cpu_dur(ms // 20)[0]
        f["ExitCode"] = f"{kw.get('exit_code', 0)}:{kw.get('exit_signal', 0)}"
        return Record(fields=f, usercpu=val, **kw)

    job = Job(str(jid), user, state)
    eff_total = rng.uniform(0.02, 0.97)
    alloc_fields = {
        "JobName": jobname, "User": user, "State": state,
        "Submit": ts_str(submit), "Start": ts_str(start), "End": st_end,
        "Elapsed": _dur(elapsed), "NCPUS": str(ncpus), "ReqCPUS": str(ncpus),
        "AllocCPUS": str(ncpus), "Priority": str(rng.randint(1000, 99999)),
        "ReqMem": f"{mem_gib}G", "ReqTRES": tres_req, "AllocTRES": tres_alloc,
        "CPUTime": _dur(cputime), "SubmitLine": f"sbatch --cpus-per-task={ncpus} {jobname}.sh",
    }
    job.records.append(rec(
        str(jid), alloc_fields, user=user, state=state, elapsed=float(elapsed),
        cputime=float(cputime), submit=submit, start=start, end=end,
        alloc_mem=alloc_mem, exit_code=exit_code, exit_signal=exit_signal,
        usercpu_ms=0,
    ))

    n_num = rng.choices((0, 1, 2, 3), weights=(4, 3, 2, 1))[0]
    steps = ["batch"] + (["extern"] if rng.random() < 0.5 else []) + [str(i) for i in range(n_num)]
    # split the job's CPU use over its working steps (extern does none)
    work = [s for s in steps if s != "extern"]
    cuts = sorted(rng.random() for _ in range(len(work) - 1))
    shares = [b - a for a, b in zip([0.0] + cuts, cuts + [1.0])]
    share = dict(zip(work, shares))
    for s in steps:
        s_elapsed = elapsed if s in ("batch", "extern") else rng.randint(1, elapsed)
        s_ncpus = ncpus
        s_cputime = s_elapsed * s_ncpus
        # each step uses at most its own CPU time; floor keeps the sum of
        # step usage at or below the allocation's
        s_cpu = int(eff_total * share.get(s, 0.0) * s_cputime)
        s_mem_frac = rng.uniform(0.01, 0.99)
        s_mem_mib = round(mem_gib * 1024 * s_mem_frac, 2)
        s_mem = float(f"{s_mem_mib:.2f}") * 1024 ** 2
        rss_kib = int(s_mem_mib * 1024)
        disk_r = rng.randint(0, 40 * 1024 ** 3)
        disk_w = rng.randint(0, 8 * 1024 ** 3)
        maxdr_mant = round(rng.uniform(0, 900), 2)
        gpu_usage = ""
        if gpu and s == "batch":
            util = rng.randint(0, 100 * ngpus)
            gpu_usage = f",gres/gpumem={rng.randint(100, 80000)}M,gres/gpuutil={util}"
        if s == "extern":
            s_cpu, s_mem_mib, s_mem, rss_kib = 0, 0.0, 0.0, 0
        tres_in = (f"cpu={_dur(s_cpu)},energy=0,fs/disk={disk_r}{gpu_usage},"
                   f"mem={s_mem_mib:.2f}M,pages=0,vmem={mem_gib}G")
        s_state = state if s != "extern" else ("RUNNING" if running else "COMPLETED")
        s_exit = (exit_code, exit_signal) if s == "batch" else (0, 0)
        fields = {
            "JobName": s, "State": s_state, "Submit": ts_str(submit),
            "Start": ts_str(start), "End": st_end, "Elapsed": _dur(s_elapsed),
            "NCPUS": str(s_ncpus), "AllocCPUS": str(s_ncpus), "NTasks": "1",
            "AllocTRES": f"cpu={s_ncpus},mem={mem_gib}G,node={nnodes}",
            "TRESUsageInTot": tres_in,
            "TRESUsageOutTot": f"energy=0,fs/disk={disk_w}",
            "CPUTime": _dur(s_cputime), "MaxRSS": f"{rss_kib}K",
            "AveRSS": f"{rss_kib // 2}K", "MaxDiskRead": f"{maxdr_mant:.2f}M",
            "MaxDiskWrite": f"{disk_w // 1024}K",
        }
        job.records.append(rec(
            f"{jid}.{s}", fields, user=None, state=s_state, elapsed=float(s_elapsed),
            cputime=float(s_cputime), submit=submit, start=start, end=end,
            alloc_mem=alloc_mem, total_cpu=float(s_cpu), total_mem=s_mem,
            max_rss=float(rss_kib * 1024), disk_read=float(disk_r),
            disk_write=float(disk_w), max_disk_read=int(maxdr_mant) * 1024 ** 2,
            exit_code=s_exit[0], exit_signal=s_exit[1],
            usercpu_ms=int(s_cpu * 1000 * 0.9),
        ))
    return job


def make_pending(rng: random.Random, jid: int, day_start: int) -> Job:
    user_i = rng.choices(range(N_USERS), weights=_user_weights())[0]
    user = f"u{user_i:02}"
    submit = day_start + rng.randint(0, DAY - 1)
    f = {"JobID": str(jid), "JobIDRaw": str(jid), "JobName": "queued", "User": user,
         "Group": f"g{user_i % 6}", "Account": f"proj{user_i % 9}", "Partition": "batch",
         "State": "PENDING", "Submit": ts_str(submit), "Start": "Unknown", "End": "Unknown",
         "Elapsed": "00:00:00", "Timelimit": "1-00:00:00", "NNodes": "1", "NCPUS": "4",
         "ReqCPUS": "4", "AllocCPUS": "0", "ReqMem": "8G",
         "ReqTRES": "billing=4,cpu=4,mem=8G,node=1", "CPUTime": "00:00:00",
         "UserCPU": "00:00.000", "SystemCPU": "00:00.000", "ExitCode": "0:0",
         "SubmitLine": "sbatch queued.sh"}
    job = Job(str(jid), user, "PENDING")
    job.records.append(Record(fields=f, user=user, state="PENDING", elapsed=0.0,
                              cputime=0.0, usercpu=0.0, submit=submit, start=None,
                              end=None, alloc_mem=None))
    return job


@dataclass
class Dump:
    path: str
    n_bytes: int
    jobs: list
    records: list
    malformed: int
    now: int


def _planted(rng: random.Random, n_fields: int) -> list[str]:
    """The fixed set of malformed lines: records split by a newline in
    JobName (both halves are short) and lines with one field too many."""
    out = []
    for i in range(SPLIT_RECORDS):
        vals = [f"9{i:07}"] * n_fields
        vals[_JOBNAME_IDX] = f"broken\nname{i}"
        out.extend(DELIM.join(vals).split("\n"))
    for i in range(LONG_LINES):
        vals = [f"8{i:07}"] * n_fields
        vals[_JOBNAME_IDX] = f"extra{DELIM}field{i}"
        out.append(DELIM.join(vals))
    return out


def make_dump(seed: int, out_dir: str, n_jobs: int, days: int = 14) -> Dump:
    """Write ``dump.txt`` with ``n_jobs`` jobs (2% pending, 3% running)
    spread over ``days`` days, plus the planted malformed lines at
    seeded positions."""
    rng = random.Random(seed)
    jobs = []
    for i in range(n_jobs):
        jid = 1_000_000 + i
        day_start = T0 + (i * days // n_jobs) * DAY
        u = rng.random()
        if u < 0.02:
            jobs.append(make_pending(rng, jid, day_start))
        else:
            jobs.append(make_job(rng, jid, day_start, running=u < 0.05))
    records = [r for j in jobs for r in j.records]
    lines = [r.line() for r in records]
    for bad in _planted(rng, len(COLUMNS)):
        lines.insert(rng.randint(0, len(lines)), bad)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "dump.txt")
    with open(path, "w") as fh:
        fh.write(DELIM.join(COLUMNS) + "\n")
        fh.write("\n".join(lines) + "\n")
    return Dump(path, os.path.getsize(path), jobs, records, MALFORMED_LINES,
                now=T0 + days * DAY)


@dataclass
class History:
    """Day-window slices served by two stubs: the first pass over
    ``days`` days, then a replay of the last ``replay_days`` days
    (starting 5 s early, like a resume) in which the jobs that were
    running have ended."""

    stub1: str
    stub2: str
    start: int
    stop: int
    replay_start: int
    windows1: list           # [(ws, we, n_rows)]
    windows2: list
    final: dict              # JobID -> State after the replay
    restamped: set           # JobIDs of allocation rows that changed State
    n_bytes: int             # sacct text of the first pass (every row once)


def _write_slice(stub_dir: str, ws: int, we: int, records: list) -> int:
    p = os.path.join(stub_dir, "slices", f"{bound_str(ws)}_{bound_str(we)}.txt")
    text = DELIM.join(COLUMNS) + "\n" + "".join(r.line() + "\n" for r in records)
    with open(p, "w") as fh:
        fh.write(text)
    return len(text)


def _write_stub(stub_dir: str) -> str:
    os.makedirs(os.path.join(stub_dir, "slices"), exist_ok=True)
    p = os.path.join(stub_dir, "sacct")
    with open(p, "w") as fh:
        fh.write(STUB_SACCT)
    os.chmod(p, os.stat(p).st_mode | stat.S_IEXEC | stat.S_IXGRP | stat.S_IXOTH)
    return p


def make_history(seed: int, out_dir: str, days: int, jobs_per_day: int,
                 replay_days: int) -> History:
    rng = random.Random(seed * 7919 + 1)
    stub1 = _write_stub(os.path.join(out_dir, "pass1"))
    stub2 = _write_stub(os.path.join(out_dir, "pass2"))
    d1, d2 = os.path.dirname(stub1), os.path.dirname(stub2)
    first_replay_day = days - replay_days
    windows1, windows2 = [], []
    final: dict = {}
    restamped: set = set()
    n_bytes = 0
    jid = HIST_FIRST_JID - 1
    for d in range(days):
        ws, we = T0 + d * DAY, T0 + (d + 1) * DAY
        pass1, pass2 = [], []
        for _ in range(jobs_per_day):
            jid += 1
            running = d >= first_replay_day and rng.random() < 0.1
            state_rng = random.Random(rng.random())
            if running:
                # same steps in both passes; only the State/End/usage move on
                j1 = make_job(random.Random(jid), jid, ws, running=True)
                j2 = make_job(random.Random(jid), jid, ws, running=True)
                done = _weighted(state_rng, FINAL_STATES)
                end = j2.alloc.start + int(j2.alloc.elapsed)
                for r in j2.records:
                    r.end = end
                    r.fields["End"] = ts_str(end)
                    if r.state == "RUNNING":
                        r.state = done if r.fields["JobName"] != "extern" else "COMPLETED"
                        r.fields["State"] = r.state
                restamped.add(j2.jid)
            else:
                j1 = j2 = make_job(rng, jid, ws)
            pass1 += j1.records
            pass2 += j2.records
            for r in j2.records:
                final[r.fields["JobID"]] = r.state
        n_bytes += _write_slice(d1, ws, we, pass1)
        windows1.append((ws, we, len(pass1)))
        if d >= first_replay_day:
            _write_slice(d2, ws, we, pass2)
            windows2.append((ws, we, len(pass2)))
    replay_start = T0 + first_replay_day * DAY - RESUME_REWIND_S
    # the resume sliver before the first replayed midnight holds no ends
    _write_slice(d2, replay_start, T0 + first_replay_day * DAY, [])
    windows2.insert(0, (replay_start, T0 + first_replay_day * DAY, 0))
    return History(stub1, stub2, T0, T0 + days * DAY, replay_start, windows1,
                   windows2, final, restamped, n_bytes)
