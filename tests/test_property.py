"""Property-based watermark invariant (SURVEY.md §5.4, hypothesis):
for ANY batch split of an insert sequence, with arbitrary crash-replays
(lost watermark writes) interleaved, the incremental pipeline's sink
equals the full dataset exactly once and the watermark lands on max id.
"""

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_data_pipeline_spark.pipeline import IncrementalPipeline
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
from etl_data_pipeline_spark.watermark import WatermarkStore


@st.composite
def batch_plan(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=n),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    bounds = [0] + cuts + [n]
    batches = [list(range(lo, hi)) for lo, hi in zip(bounds, bounds[1:])]
    crash_after = draw(
        st.lists(st.booleans(), min_size=len(batches), max_size=len(batches))
    )
    return batches, crash_after


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=batch_plan())
def test_incremental_equals_full_under_any_split(spark, plan):
    batches, crash_after = plan
    total = sum(len(b) for b in batches)
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        spec = PipelineSpec(
            tables=[
                TableSpec(
                    name="t",
                    watermark_column="id",
                    watermark_type="id",
                    source_options={"dir": src},
                    sink_options={"dir": os.path.join(tmp, "sink")},
                    merge_keys=("id",),
                )
            ]
        )
        store = WatermarkStore(os.path.join(tmp, "state.json"))
        pipe = IncrementalPipeline(spark, spec, store)
        for ids, crash in zip(batches, crash_after):
            if ids:
                spark.createDataFrame(
                    [(i, i * 10) for i in ids], "id long, value long"
                ).write.mode("append").parquet(os.path.join(src, "t.parquet"))
            elif not os.path.exists(os.path.join(src, "t.parquet")):
                continue  # nothing ever written yet — source doesn't exist
            pipe.run()
            if crash:
                store.clear("t")  # lost watermark write -> next run replays
                pipe.run()
        if total == 0:
            return
        sink = spark.read.parquet(os.path.join(tmp, "sink", "t"))
        got = sorted(r.id for r in sink.select("id").collect())
        assert got == list(range(total))  # every row exactly once
        assert store.get("t") == str(total - 1)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # user_id
            st.integers(min_value=0, max_value=2000),       # seconds offset
        ),
        min_size=0,
        max_size=25,
        unique=True,
    )
)
def test_range_binned_equals_brute_force(spark, events):
    """The bucketed equi-join must return EXACTLY the brute-force
    range-predicate pairs for any event layout (boundary gaps, same-ts
    ties, cross-bucket neighbors)."""
    from datetime import datetime, timedelta

    from etl_data_pipeline_spark.operators import joins

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(seconds=sec), uid)
        for i, (uid, sec) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        if not rows:
            return
        from pyspark.sql import functions as F

        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long"
        ).withColumn("event_type", F.lit("t")).withColumn(
            "value", F.lit(1.0)
        ).withColumn("props", F.lit("{}")).write.parquet(
            os.path.join(tmp, "events.parquet")
        )
        got = {
            (r.event_a, r.event_b, r.gap_ms)
            for r in joins.join_range_binned(spark, tmp).collect()
        }
    w_ms = joins.RANGE_BIN_MS
    expect = set()
    for ia, (ua, sa) in enumerate(events):
        for ib, (ub, sb) in enumerate(events):
            gap = (sb - sa) * 1000
            if ua == ub and 0 <= gap <= w_ms and (sa < sb or (sa == sb and ia < ib)):
                expect.add((ia, ib, gap))
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
def test_cluster_propagation_equals_union_find(spark, edges):
    """Min-label propagation must agree with a reference union-find on
    arbitrary graphs (chains, cliques, stars, disjoint unions)."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.llm.dedup import CLUSTER_MAX_ITERS

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    ).distinct()
    # inline the operator's propagation loop on an arbitrary pair set
    e = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst").persist()
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    s = labels.agg(F.sum("label")).first()[0]
    for _ in range(CLUSTER_MAX_ITERS):
        msgs = e.join(labels, e.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            labels.union(msgs).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        ns = labels.agg(F.sum("label")).first()[0]
        if ns == s:
            break
        s = ns
    got = {(r.node, r.label) for r in labels.collect()}
    # reference union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(n, find(n)) for n in parent}
    assert got == expect


@st.composite
def scd2_batches(draw):
    """A short sequence of upsert batches over a small key space, with
    values drawn from a small alphabet including NULL."""
    n_batches = draw(st.integers(min_value=1, max_value=3))
    batches = []
    for _ in range(n_batches):
        keys = draw(
            st.lists(
                st.integers(min_value=1, max_value=4),
                min_size=1,
                max_size=4,
                unique=True,
            )
        )
        batches.append(
            [(k, draw(st.sampled_from(["a", "b", None]))) for k in keys]
        )
    return batches


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=scd2_batches())
def test_scd2_matches_reference_state_machine(spark, batches):
    """SCD2 sink vs a dict-based reference: after ANY batch sequence,
    current rows equal the reference's live state and every closed
    version carries the timestamp of the batch that superseded it."""
    from etl_data_pipeline_spark.sinks import scd2_upsert_parquet

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "dim")
        ref_current: dict[int, tuple] = {}   # k -> (v, valid_from)
        ref_history: list[tuple] = []        # (k, v, valid_from, valid_to)
        for i, batch in enumerate(batches):
            ts = f"2026-01-{i + 1:02d} 00:00:00"
            df = spark.createDataFrame(batch, "k long, v string")
            scd2_upsert_parquet(spark, df, "dim", {"dir": tmp}, ("k",), ts)
            for k, v in batch:
                if k in ref_current:
                    old_v, old_from = ref_current[k]
                    if old_v != v:  # value change closes the version
                        ref_history.append((k, old_v, old_from, ts))
                        ref_current[k] = (v, ts)
                else:
                    ref_current[k] = (v, ts)
        out = spark.read.parquet(path).collect()
        cur = {
            r.k: (r.v, str(r["__valid_from"]))
            for r in out
            if r["__is_current"]
        }
        hist = {
            (r.k, r.v, str(r["__valid_from"]), str(r["__valid_to"]))
            for r in out
            if not r["__is_current"]
        }
        assert cur == ref_current
        assert hist == set(ref_history)


@st.composite
def asof_frames(draw):
    """Small random left/right frames over a few keys; right rows are
    unique per (by, on) — the operator's documented precondition."""
    keys = [1, 2]
    left = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 30)),
            min_size=1,
            max_size=8,
        )
    )
    right_pairs = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 30)),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    right = [
        (k, t, draw(st.sampled_from([1.5, 2.5, None]))) for k, t in right_pairs
    ]
    return left, right


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(frames=asof_frames())
def test_asof_join_matches_pandas_merge_asof(spark, frames):
    """asof_join == pandas merge_asof (backward, inclusive) for ANY
    input — including NULLs in the matched row's value column, which
    must be carried, not back-filled."""
    import pandas as pd

    from etl_data_pipeline_spark.operators.asof import asof_join

    left_rows, right_rows = frames
    left = spark.createDataFrame(left_rows, "by long, ts long")
    right = spark.createDataFrame(right_rows, "by long, ts long, score double")
    got = {
        (r.by, r.ts, r.score)
        for r in asof_join(left, right, on="ts", by="by", value_cols=["score"]).collect()
    }
    lp = pd.DataFrame(left_rows, columns=["by", "ts"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(right_rows, columns=["by", "ts", "score"]).sort_values(
        "ts", kind="stable"
    )
    exp_df = pd.merge_asof(lp, rp, on="ts", by="by", direction="backward")
    expected = {
        (int(r.by), int(r.ts), None if pd.isna(r.score) else float(r.score))
        for r in exp_df.itertuples()
    }
    # normalize: Spark rows use None for NULL doubles too
    got = {(b, t, None if s is None else float(s)) for b, t, s in got}
    assert got == expected


def test_hround_cross_engine_bit_exact(spark):
    """The portability contract under every oracle: hround (Spark),
    sql_round (DuckDB) and np_round (pandas UDFs) must produce
    BIT-IDENTICAL doubles for the same inputs — including the .xx5
    ties where BigDecimal/banker's rounding schemes disagree."""
    import duckdb
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.functions.rounding import (
        hround,
        np_round,
        sql_round,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [
            rng.uniform(-1e6, 1e6, 2000),
            rng.uniform(-1.0, 1.0, 2000),
            rng.randint(-(10**9), 10**9, 1000) / 1000.0,
            np.array([2.675, -2.675, 0.125, -0.125, 1.005, -1.005,
                      99999.995, 0.0, -0.005, 12345678.905]),
        ]
    )
    pdf = pd.DataFrame({"i": np.arange(len(vals)), "v": vals})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)
    for scale in (2, 4, 6):
        got_spark = (
            sdf.select("i", hround(F.col("v"), scale).alias("r"))
            .toPandas()
            .sort_values("i")["r"]
            .to_numpy()
        )
        got_duck = (
            con.execute(f"SELECT i, {sql_round('v', scale)} AS r FROM t ORDER BY i")
            .df()["r"]
            .to_numpy()
        )
        got_np = np_round(pdf["v"], scale).to_numpy()
        assert np.array_equal(got_spark, got_duck), f"spark!=duck at scale {scale}"
        assert np.array_equal(got_spark, got_np), f"spark!=np at scale {scale}"


# -- Avro binary codec: randomized round-trip + split invariance ------


@st.composite
def avro_rows(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    rows = []
    for i in range(n):
        rows.append({
            "id": draw(st.integers(min_value=-(2**62), max_value=2**62)),
            "s": draw(st.one_of(st.none(), st.text(max_size=20))),
            "v": draw(st.one_of(st.none(), st.floats(allow_nan=False))),
            "flag": draw(st.booleans()),
            "tags": draw(st.lists(st.integers(-1000, 1000), max_size=5)),
        })
    return rows


_AVRO_SCHEMA = {
    "type": "record", "name": "prop",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "v", "type": ["null", "double"]},
        {"name": "flag", "type": "boolean"},
        {"name": "tags", "type": {"type": "array", "items": "int"}},
    ],
}


@settings(max_examples=25, deadline=None)
@given(rows=avro_rows(), block_rows=st.integers(1, 7), codec=st.sampled_from(["null", "deflate"]), step_frac=st.floats(0.05, 1.0))
def test_avro_codec_round_trip_any_split(rows, block_rows, codec, step_frac):
    """ANY rows × ANY block size × ANY codec × ANY byte-range split
    grid: the container round-trips exactly and splits stay disjoint +
    exhaustive (sources/avro_format.py)."""
    import os
    import tempfile

    from etl_data_pipeline_spark.sources.avro_format import (
        OcfWriter,
        iter_block_rows,
    )

    expect = [
        (r["id"], r["s"], r["v"], r["flag"], r["tags"]) for r in rows
    ]
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "t.avro")
        with open(p, "wb") as f:
            w = OcfWriter(f, _AVRO_SCHEMA, codec=codec, block_rows=block_rows)
            for r in rows:
                w.write_row(r)
            w.close()
        size = os.path.getsize(p)
        # whole-file read preserves order and values exactly
        assert list(iter_block_rows(p, 0, size)) == expect
        # split grid: multiset-equal regardless of step
        step = max(64, int(size * step_frac))
        got = []
        for start in range(0, size, step):
            got.extend(iter_block_rows(p, start, min(start + step, size)))
        assert sorted(map(repr, got)) == sorted(map(repr, expect))


@st.composite
def feed_plan(draw):
    """A random manifest commit history: a sequence of appends (each a
    small key list, possibly overlapping earlier keys) with optional
    layout-only compactions interleaved, plus a random consumer
    watermark (since) inside the history."""
    n_commits = draw(st.integers(min_value=1, max_value=6))
    appends = [
        draw(st.lists(st.integers(min_value=0, max_value=30),
                      min_size=1, max_size=5))
        for _ in range(n_commits)
    ]
    compact_after = draw(
        st.lists(st.booleans(), min_size=n_commits, max_size=n_commits)
    )
    since_choice = draw(st.integers(min_value=0, max_value=n_commits))
    return appends, compact_after, since_choice


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=feed_plan())
def test_read_changes_version_column_invariant(spark, plan):
    """For ANY append/compaction history and ANY since-version: the
    version-stamped change feed returns exactly the rows of the
    appends AFTER since, each stamped with the manifest version its
    commit created — compactions (layout-only) contribute no rows and
    never disturb the stamps. This is the contract the version-feed
    CDC compaction (pipeline._latest_per_key over the feed version)
    rests on."""
    import os
    import tempfile

    from etl_data_pipeline_spark.sinks.manifest import (
        commit as mcommit,
        read_changes,
        read_manifest,
    )
    from etl_data_pipeline_spark.sinks import manifest as mmod

    appends, compact_after, since_choice = plan
    with tempfile.TemporaryDirectory() as tmp:
        t = os.path.join(tmp, "t")
        # row -> (k, commit_ordinal); expected stamps come from the
        # manifest version the commit RETURNS (compactions shift it)
        expected: list[tuple[int, int]] = []
        append_versions: list[int] = []
        for i, keys in enumerate(appends):
            df = spark.createDataFrame([(k, i) for k in keys], "k long, a long")
            m = mcommit(df, t, mode="append" if i else "overwrite")
            append_versions.append(m["version"])
            for k in keys:
                expected.append((k, i, m["version"]))
            if compact_after[i]:
                mmod.compact(spark, t)
        head = read_manifest(t)["version"]
        # since = version of the since_choice-th append (0 = from start)
        since = 0 if since_choice == 0 else append_versions[since_choice - 1]
        out = read_changes(spark, t, since, version_column="_v")
        got = sorted((r.k, r.a, r._v) for r in out.collect())
        want = sorted(
            (k, i, v) for (k, i, v) in expected if v > since
        )
        assert got == want, (got, want, head)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=feed_plan())
def test_version_feed_upsert_last_write_wins(spark, plan):
    """End-to-end property of the ADVICE-r9 fix: for ANY source
    history of overlapping key updates (and layout compactions), and
    ANY pipeline-run schedule boundary (the feed consumed in one run
    after `since_choice` commits had already been consumed in an
    earlier run), the upsert sink holds exactly one row per key — the
    value of the LATEST commit touching it."""
    import os
    import tempfile

    from etl_data_pipeline_spark.sinks import manifest as mmod
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_table as mread

    appends, compact_after, since_choice = plan
    with tempfile.TemporaryDirectory() as tmp:
        src_dir = os.path.join(tmp, "src")
        t = os.path.join(src_dir, "kv")
        spec = PipelineSpec(
            tables=[
                TableSpec(
                    name="kv",
                    watermark_type="version",
                    source_format="manifest",
                    source_options={"dir": src_dir},
                    sink_format="manifest",
                    sink_options={"dir": os.path.join(tmp, "sink"),
                                  "mode": "upsert"},
                    merge_keys=("k",),
                )
            ]
        )
        store = WatermarkStore(os.path.join(tmp, "wm.json"))
        pipe = IncrementalPipeline(spark, spec, store)
        cut = min(since_choice, len(appends))
        for i, keys in enumerate(appends):
            df = spark.createDataFrame(
                [(k, i) for k in keys], "k long, a long"
            )
            mcommit(df, t, mode="append" if i else "overwrite")
            if compact_after[i]:
                mmod.compact(spark, t)
            if i + 1 == cut:
                r = pipe.run()[0]
                assert r.status in ("loaded", "skipped_empty"), r.error
        r = pipe.run()[0]
        assert r.status in ("loaded", "skipped_empty"), r.error
        got = sorted(
            (row.k, row.a)
            for row in mread(spark, os.path.join(tmp, "sink", "kv")).collect()
        )
        last = {}
        for i, keys in enumerate(appends):
            for k in keys:
                last[k] = i
        assert got == sorted(last.items()), (got, last)


@st.composite
def hive_layout_plan(draw):
    """Random hive-partitioned table shape: 1-3 partition values with
    skewed row counts, random row payload width."""
    nparts = draw(st.integers(min_value=1, max_value=3))
    sizes = [draw(st.integers(min_value=1, max_value=400)) for _ in range(nparts)]
    payload = draw(st.integers(min_value=1, max_value=60))
    target_kb = draw(st.sampled_from([1, 4, 1024]))
    return sizes, payload, target_kb


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=hive_layout_plan())
def test_compact_parquet_preserves_rows_under_any_layout(spark, plan):
    """Compaction with the r10 deterministic salt: for ANY skewed hive
    layout and ANY file-size target, the compacted table holds the
    exact same row multiset, the partition dirs survive, and no leaf
    dir is left empty."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.sinks import compact_parquet, write_partitioned

    sizes, payload, target_kb = plan
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "pt")
        rows = [
            (pi * 100000 + i, f"p{pi}", "x" * payload)
            for pi, n in enumerate(sizes)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, part string, v string")
        write_partitioned(df, "pt", {"path": path}, ["part"])
        compact_parquet(spark, path, target_file_bytes=target_kb * 1024)
        back = spark.read.parquet(path)
        got = sorted((r.k, r.part, r.v) for r in back.collect())
        assert got == sorted(rows)
        for pi, n in enumerate(sizes):
            d = os.path.join(path, f"part=p{pi}")
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert files, f"empty leaf {d}"
