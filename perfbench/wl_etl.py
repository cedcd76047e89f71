"""``etl_incremental``: the reference's ``app.py dev all`` traffic.

A parquet source directory is copied into a parquet target (merge-key
fence on every watermarked table) by ``__main__.main(["dev", "all", ...],
spark=...)`` in process: a full load of a seeded base, then append
batches written into the source between runs, each load run followed by
a no-new-data poll, then, in a traced run, one fresh-process ``python -m
etl_data_pipeline_spark dev all`` run. Every run is checked, and the
final target is compared with the source row by row.
"""

from __future__ import annotations

import io
import os
import re
import statistics
import subprocess
import sys
import time
from contextlib import redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import datagen

BATCHES = 24
WARM_CYCLES = 6
NEW_WM = re.compile(r"^NEW_WATERMARK_([A-Z0-9_]+)=(.*)$", re.M)


def split_on_watermark(table: pa.Table, col: str, batches: int):
    """Rows up to the median watermark value, then ``batches`` slices of
    strictly increasing watermark ranges."""
    values = table.column(col).to_numpy()
    uniq = np.unique(values)
    cut = len(uniq) // 2
    base = table.filter(pa.array(values <= uniq[cut - 1]))
    parts = [
        table.filter(pa.array((values >= e[0]) & (values <= e[-1])))
        for e in np.array_split(uniq[cut:], batches)
    ]
    return base, parts


def _py(v):
    """numpy scalar -> the Python value the watermark store parses to."""
    return v.astype("datetime64[us]").item() if isinstance(v, np.datetime64) else int(v)


class Sequence:
    """One source/target/state triple and what the target must hold."""

    def __init__(self, ctx, name: str, specs, tables: dict[str, pa.Table], split):
        self.ctx = ctx
        self.dir = ctx.work / name
        self.src, self.tgt = self.dir / "src", self.dir / "tgt"
        self.state = self.dir / "state" / "watermarks.json"
        self.state.parent.mkdir(parents=True)
        self.specs = specs
        self.split = split
        self.source: dict[str, list[pa.Table]] = {}
        self.runs = 0
        for t in specs:
            first = split[t.name][0] if t.is_incremental else tables[t.name]
            self.source[t.name] = []
            self._write_source(t.name, first)

    def _write_source(self, name: str, table: pa.Table) -> None:
        d = self.src / f"{name}.parquet"
        d.mkdir(parents=True, exist_ok=True)
        part = d / f"part-{len(self.source[name]):05d}.parquet"
        tmp = d / f".{part.name}.tmp"  # dot-prefixed files are invisible to readers
        pq.write_table(table, tmp)
        os.replace(tmp, part)
        self.source[name].append(table)

    def append(self, i: int) -> None:
        for t in self.specs:
            if t.is_incremental:
                self._write_source(t.name, self.split[t.name][1][i])

    def argv(self) -> list[str]:
        tables_list = str(self.ctx.work.parents[1] / "tables_list")
        return ["dev", "all", "--tables-list", tables_list, "--state", str(self.state)]

    def env(self) -> dict[str, str]:
        return {"SOURCE_DB_PATH": str(self.src), "TARGET_DB_PATH": str(self.tgt)}

    def source_rows(self, name: str) -> int:
        return sum(p.num_rows for p in self.source[name])

    def source_max(self, t):
        return _py(max(np.max(p.column(t.watermark_column).to_numpy()) for p in self.source[t.name]))

    def target_files(self) -> dict[str, int]:
        out = {}
        for t in self.specs:
            d = self.tgt / t.name
            if d.is_dir():
                for f in d.glob("*.parquet"):
                    out[str(f)] = f.stat().st_size
        return out

    def target_counts(self) -> dict[str, int]:
        return {
            t.name: (
                pads.dataset(self.tgt / t.name, format="parquet").count_rows()
                if (self.tgt / t.name).is_dir()
                else 0
            )
            for t in self.specs
        }

    def check_run(self, kind: str, rc: int, stdout: str, before, after) -> list[str]:
        from etl_data_pipeline_spark.watermark import WatermarkStore, parse_watermark

        problems = [] if rc == 0 else [f"exit code {rc}"]
        printed = dict(NEW_WM.findall(stdout))
        store = WatermarkStore(self.state)
        for t in self.specs:
            n = after[t.name]
            if not t.is_incremental:
                if n != self.runs * self.source_rows(t.name):
                    problems.append(f"{t.name}: {n} rows after {self.runs} full copies")
                continue
            raw, want = store.get(t.name), self.source_max(t)
            if parse_watermark(raw, t.watermark_type) != want:
                problems.append(f"{t.name}: stored watermark {raw!r}, source max {want}")
            line = printed.get(t.name.upper())
            if kind == "poll":
                if line is not None or n != before[t.name]:
                    problems.append(f"{t.name}: poll printed {line!r}, rows {before[t.name]}->{n}")
            elif line != raw:
                problems.append(f"{t.name}: printed {line!r}, stored {raw!r}")
            if n != self.source_rows(t.name):
                problems.append(f"{t.name}: target {n} rows, source {self.source_rows(t.name)}")
        return problems

    def final_check(self) -> list[str]:
        """Incremental targets hold exactly the source rows (no key
        duplicated beyond the source); full-load targets hold one copy of
        the source per run; stored watermarks equal the source max."""
        import duckdb

        from etl_data_pipeline_spark.watermark import WatermarkStore, parse_watermark

        con = duckdb.connect()
        problems = []
        store = WatermarkStore(self.state)
        for t in self.specs:
            cols = ", ".join(f'"{c}"' for c in self.source[t.name][0].column_names)
            src = f"(SELECT {cols} FROM read_parquet('{self.src}/{t.name}.parquet/*.parquet'))"
            tgt = f"(SELECT {cols} FROM read_parquet('{self.tgt}/{t.name}/*.parquet'))"
            if t.is_incremental:
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM ({src} EXCEPT ALL {tgt})),"
                    f" (SELECT count(*) FROM ({tgt} EXCEPT ALL {src}))"
                ).fetchone()
                key = f'"{t.watermark_column}"'
                dups = con.execute(
                    f"SELECT (SELECT count(*) - count(DISTINCT {key}) FROM {tgt})"
                    f" - (SELECT count(*) - count(DISTINCT {key}) FROM {src})"
                ).fetchone()[0]
                if diff != (0, 0) or dups:
                    problems.append(f"{t.name}: missing/extra rows {diff}, duplicate keys {dups}")
                raw = store.get(t.name)
                if parse_watermark(raw, t.watermark_type) != self.source_max(t):
                    problems.append(f"{t.name}: final stored watermark {raw!r}")
            else:
                bad = con.execute(
                    f"SELECT count(*) FROM (SELECT count(*) AS c FROM {tgt} GROUP BY {cols})"
                    f" WHERE c <> {self.runs}"
                ).fetchone()[0]
                missing = con.execute(f"SELECT count(*) FROM ({src} EXCEPT {tgt})").fetchone()[0]
                if bad or missing:
                    problems.append(f"{t.name}: {bad} rows not copied {self.runs}x, {missing} missing")
        con.close()
        return problems

    def tamper(self) -> None:
        """Self-test only: drop one target row and corrupt one stored watermark."""
        from etl_data_pipeline_spark.watermark import WatermarkStore

        t = next(t for t in self.specs if t.is_incremental)
        victim = max((self.tgt / t.name).glob("*.parquet"), key=lambda f: f.stat().st_size)
        table = pq.read_table(victim)
        pq.write_table(table.slice(0, table.num_rows - 1), victim)
        crc = victim.with_name(f".{victim.name}.crc")
        if crc.exists():
            crc.unlink()
        t2 = [t for t in self.specs if t.is_incremental][-1]
        WatermarkStore(self.state).set(t2.name, "0" if t2.watermark_type == "id" else "1970-01-01 00:00:00")


def run(ctx):
    from etl_data_pipeline_spark.__main__ import main as cli_main
    from etl_data_pipeline_spark.spec import read_table_registry

    for k in [k for k in os.environ if k.startswith("LAST_WATERMARK_")]:
        del os.environ[k]
    specs = read_table_registry(ctx.work.parents[1] / "tables_list", "all")
    tables = datagen.make_tables(ctx.args.seed, ctx.args.scale)
    split = {
        t.name: split_on_watermark(tables[t.name], t.watermark_column, BATCHES)
        for t in specs
        if t.is_incremental
    }
    main = Sequence(ctx, "main", specs, tables, split)

    def pipeline_run(seq: Sequence, kind: str, op_id: str):
        """One in-process CLI run: (wall s, CPU s, rows written, layer metrics)."""
        os.environ.update(seq.env())
        before = seq.target_counts()
        files = seq.target_files() if ctx.tracer is not None else {}
        out, rc = io.StringIO(), []

        def call():
            with redirect_stdout(out):
                rc.append(cli_main(seq.argv(), spark=ctx.spark))

        ctx.attempted += 1
        try:
            wall, cpu, m = ctx.measure_op(op_id, call)
        except Exception as e:
            ctx.fail(f"{op_id}: {type(e).__name__}: {e}")
            return None, 0.0, 0, None
        seq.runs += 1
        after = seq.target_counts()
        problems = seq.check_run(kind, rc[0], out.getvalue(), before, after)
        if problems:
            ctx.fail(f"{op_id}: {'; '.join(problems)}")
        if m is not None:
            new = {f: s for f, s in seq.target_files().items() if f not in files}
            m["sinks.files_written"] = len(new)
            m["sinks.bytes_written_mb"] = sum(new.values()) / 2**20
        return wall, cpu, sum(after.values()) - sum(before.values()), m

    # the first run into the empty target, then warm-up cycles: in-process
    # cycles keep getting faster (JIT) for about the first ten after a cold
    # start, ~2.8 s down to ~2.1 s on 4 cores; the median over the ~10
    # timed cycles discounts the last few of them
    full_load_s, _, _, _ = pipeline_run(main, "full", "full")
    for i in range(WARM_CYCLES):
        main.append(i)
        pipeline_run(main, "load", f"warm{i}:load")
        pipeline_run(main, "poll", f"warm{i}:poll")

    timed_start = time.time()
    setup_s = timed_start - ctx.start_epoch
    loads, polls, rows = [], [], 0
    untraced, traced, per_pass, untraced_cpu = [], [], [], []
    i, last_s = WARM_CYCLES, 0.0
    while i < BATCHES and ctx.window_open(timed_start, untraced, traced, last_s):
        tracer = ctx.tracer if (ctx.tracer is not None and i % 2 == 1) else None
        main.append(i)
        if tracer is not None:
            tracer.install()
        load_s, load_cpu, n, m_load = pipeline_run(main, "load", f"c{i}:load")
        poll_s, poll_cpu, _, m_poll = pipeline_run(main, "poll", f"c{i}:poll")
        if tracer is not None:
            tracer.uninstall()
        i += 1
        if load_s is None or poll_s is None:
            continue
        last_s = load_s + poll_s
        if tracer is None:
            loads.append(load_s)
            polls.append(poll_s)
            rows += n
            untraced.append(last_s)
            untraced_cpu.append(load_cpu + poll_cpu)
        else:
            traced.append(last_s)
            per_pass.append(ctx.pass_layers([m_load, m_poll]))

    # fresh-process CLI over the same inputs (a poll), JVM start included;
    # traced runs only, since its ~15 s would otherwise be taken from the
    # warm-up and the measuring window of every run
    cli_cold_s = run_cli(ctx, main) if ctx.tracer is not None else None

    if ctx.args.tamper:
        main.tamper()
    ctx.attempted += 1
    problems = main.final_check()
    if problems:
        ctx.fail(f"final: {'; '.join(problems)}")

    e2e = {"setup_s": setup_s, "pass_s": statistics.median(untraced or traced)}
    extra = {
        "full_load_s": full_load_s,
        "load_runs": len(loads),
        "load_p50_s": statistics.median(loads) if loads else None,
        # the highest percentile with >= 10 samples beyond it
        "load_tail_s": sorted(loads)[-11] if len(loads) >= 11 else None,
        "poll_p50_s": statistics.median(polls) if polls else None,
        "rows_per_s": rows / sum(loads) if loads else None,
        "cli_cold_s": cli_cold_s,
        "cycle_walls_s": [round(w, 3) for w in untraced],
        "cycle_cpu_s": [round(c, 3) for c in untraced_cpu],
    }
    layers = ctx.layer_report(untraced, traced, per_pass) if ctx.tracer else {}
    return e2e, extra, layers


def run_cli(ctx, seq: Sequence) -> float | None:
    """``python -m etl_data_pipeline_spark dev all`` in a fresh process."""
    before = seq.target_counts()
    ctx.attempted += 1
    with open(seq.dir / "cli.stderr", "w") as log:
        t0 = time.perf_counter()
        try:
            proc = subprocess.run(
                [sys.executable, "-m", "etl_data_pipeline_spark", *seq.argv()],
                env={**os.environ, **seq.env()},
                cwd=seq.dir,
                stdout=subprocess.PIPE,
                stderr=log,
                text=True,
                timeout=100,
            )
        except subprocess.TimeoutExpired:
            ctx.fail("cli: timed out")
            return None
        wall = time.perf_counter() - t0
    seq.runs += 1
    problems = seq.check_run("poll", proc.returncode, proc.stdout, before, seq.target_counts())
    if problems:
        ctx.fail(f"cli: {'; '.join(problems)}")
    return wall
