"""The workloads: `queries` (the sql_analytics and llm_curation query
groups in one seeded pass) and `ingest_writes` (audio_ingest, then
table_writes). Each one prepares its seeded inputs (untimed),
hands the runner one pass of operations, and checks every pass's outputs
(untimed). An operation is a callable `op(phase) -> result`:
`phase(name)` marks where its build and execute phases start (a no-op
unless the run is traced).
"""

from __future__ import annotations

import os
import shutil
import sys
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class Workload:
    """Shared shape: `ops()` for a pass, `check_pass()` after it."""

    def __init__(self, spec: dict, spark, seed: int, work: str, data_dir: str):
        self.spec, self.spark, self.seed = spec, spark, seed
        self.work, self.data_dir = work, data_dir
        self.layers: dict[str, float] = {}

    def prepare(self) -> None:
        pass

    def begin_pass(self) -> None:
        pass

    def ops(self) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def pass_input_bytes(self, store, group: str) -> int:
        """Input bytes of the pass whose jobs ran under `group`."""
        raise NotImplementedError

    def check_pass(self, results: list[tuple[str, object]]) -> set[str]:
        """Names of operations whose output is wrong."""
        raise NotImplementedError

    def trace_layers(self, tracer) -> None:
        """Workload-specific per-layer numbers, after the traced pass."""


class QueryWorkload(Workload):
    """Registered queries, each built and collected; seeded order."""

    def prepare(self) -> None:
        from tts_etl_pipeline_spark.registry import all_oracles, all_queries

        queries, self.oracles = all_queries(), all_oracles()
        names = [n for g in self.spec["groups"].values() for n in g["ops"]]
        self.names = [names[i] for i in np.random.default_rng(self.seed).permutation(len(names))]
        self.fns = {n: queries[n] for n in self.names}
        self.pins: dict[str, str] = {}
        self.result_rows = 0

    def ops(self):
        def make(name):
            def op(phase):
                phase("build")
                df = self.fns[name](self.spark, self.data_dir)
                phase("exec")
                rows = df.collect()
                return df.columns, rows

            return op

        return [(n, make(n)) for n in self.names]

    def pass_input_bytes(self, store, group):
        return store.input_bytes(group)

    def check_pass(self, results):
        bad = set()
        first = not self.pins
        con = checks.duckdb_views(self.data_dir) if first else None
        for name, res in results:
            if res is None:
                continue
            got = checks.canonical(*res)
            if first:
                self.result_rows += len(got[1])
                if name in self.oracles:
                    why = checks.diff(got, checks.oracle_rows(con, self.oracles[name]))
                    if why:
                        print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
                        bad.add(name)
                elif not got[1]:
                    bad.add(name)
                self.pins[name] = checks.digest(got)
            elif checks.digest(got) != self.pins.get(name):
                print(f"perfbench: {name} output changed between passes", file=sys.stderr)
                bad.add(name)
        if con is not None:
            con.close()
        return bad

    def trace_layers(self, tracer):
        t = tracer.totals
        self.layers["sources.rows_per_result_row"] = t["sources.scan_rows"] / max(1, self.result_rows)


class AudioWorkload(Workload):
    """`run_pipeline(asr_model="fake")` over seeded WAV batches into one
    metadata table; the last op re-ingests the first batch."""

    def prepare(self) -> None:
        inp = self.spec["input"]
        per = inp["files"] // inp["batches"]
        self.batches = datagen.write_audio_batches(
            os.path.join(self.work, "wav"), self.seed, inp["batches"], per, inp["audio_seconds"]
        )
        self.again = 0  # a fixed batch, so the pass's work does not depend on the seed
        self.out_dir = os.path.join(self.work, "clips")
        self.table = os.path.join(self.work, "metadata")
        self.pinned_rows: int | None = None

    def begin_pass(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        shutil.rmtree(self.table, ignore_errors=True)

    def ops(self):
        from tts_etl_pipeline_spark.audio.pipeline import run_pipeline

        def make(wav_dir, refresh):
            def op(phase):
                phase("exec")
                return run_pipeline(self.spark, wav_dir, self.out_dir, self.table,
                                    asr_model="fake", refresh=refresh)

            return op

        order = [b for b, _ in self.batches] + [self.batches[self.again][0]]
        return [
            (f"batch{i}" if i < len(self.batches) else "reingest", make(d, i == 0))
            for i, d in enumerate(order)
        ]

    def pass_input_bytes(self, store, group):
        return sum(size for _, size in self.batches) + self.batches[self.again][1]

    def check_pass(self, results):
        """Metadata rows must equal the clips on disk, one per key, the
        re-ingest must add none, and every pass must add as many rows as
        the first."""
        self.added = [r for _, r in results]
        names = {n for n, _ in results}
        if None in self.added:
            return names
        rows = self.spark.read.parquet(self.table).select("wav_path").collect()
        keys = [os.path.basename(r[0]) for r in rows]
        clips = {f for f in os.listdir(self.out_dir) if f.endswith(".wav")}
        if self.pinned_rows is None:
            self.pinned_rows = len(keys)
        if not (keys and self.added[-1] == 0 and set(keys) == clips
                and len(keys) == len(clips) == sum(self.added) == self.pinned_rows):
            print(f"perfbench: audio sink holds {len(keys)} rows for {len(clips)} clips, "
                  f"ops added {self.added}", file=sys.stderr)
            return names
        return set()

    def trace_layers(self, tracer):
        """Time each pipeline prefix with a noop-format write of all its
        columns (a count() would let column pruning skip the metric
        UDFs); a layer's time is its prefix minus the previous prefix."""
        from tts_etl_pipeline_spark.audio import filters
        from tts_etl_pipeline_spark.audio.asr import transcribe
        from tts_etl_pipeline_spark.audio.decode import decode_files, read_wav_dir
        from tts_etl_pipeline_spark.audio.dsp import with_metrics
        from tts_etl_pipeline_spark.audio.overlap import with_overlap_flag
        from tts_etl_pipeline_spark.audio.pipeline import run_pipeline
        from tts_etl_pipeline_spark.audio.segmentation import segment

        acc = Counter()
        stages = ["audio.decode_s", "audio.segmentation_s", "audio.dsp_s", "audio.asr_s", "audio.overlap_s"]
        for b, (wav_dir, _) in enumerate(self.batches):
            files = decode_files(read_wav_dir(self.spark, wav_dir))
            segs = segment(files)
            scored = with_metrics(segs)
            gated = scored.filter(filters.audio_quality_gate()).filter(filters.asr_length_guard())
            clean = transcribe(gated, model="fake").filter(filters.text_quality_gate())
            flagged = with_overlap_flag(clean)
            prev = 0.0
            for key, df in zip(stages, [files, segs, scored, clean, flagged]):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                took = time.perf_counter() - t0
                acc[key] += max(0.0, took - prev)
                prev = took
            n_segs, n_gated = segs.count(), gated.count()
            n_kept = flagged.count()
            table = os.path.join(self.work, f"trace-meta{b}")
            out = os.path.join(self.work, f"trace-clips{b}")
            t0 = time.perf_counter()
            run_pipeline(self.spark, wav_dir, out, table, asr_model="fake")
            acc["sources.sink_s"] += max(0.0, time.perf_counter() - t0 - prev)
            acc["audio.segments"] += n_segs
            acc["gated"] += n_gated
            acc["kept"] += n_kept
            acc["written"] += _dir_bytes(table) + _dir_bytes(out)
            acc["input"] += self.batches[b][1]
        self.layers.update({k: acc[k] for k in stages + ["audio.segments", "sources.sink_s"]})
        # rows the last pass's re-ingest offered to insert-or-ignore and dropped
        self.layers["sources.sink_ignored_rows"] = (self.added[self.again] or 0) - (self.added[-1] or 0)
        self.layers["audio.gate_pass_ratio"] = acc["gated"] / max(1, acc["audio.segments"])
        self.layers["audio.asr_yield"] = acc["kept"] / max(1, acc["gated"])
        self.layers["sources.bytes_written"] = acc["written"]
        self.layers["sources.sink.write_amp"] = acc["written"] / max(1, acc["input"])


class WritesWorkload(Workload):
    """A seeded sequence of `sources.versioned` commits and reads on a
    table built from keyed lineitem slices, replayed in DuckDB."""

    def prepare(self) -> None:
        inp = self.spec["input"]
        lineitem = datagen.table_arrays(self.seed, inp["sf"], 10, 10)["lineitem"]
        self.src_path = os.path.join(self.work, "lineitem_keyed.parquet")
        datagen.write_keyed_lineitem(self.src_path, lineitem)
        self.keyed = pq.read_table(self.src_path)
        self.n_rows = self.keyed.num_rows
        self.table = os.path.join(self.work, "versioned")
        self.expected = self._replay(self._op_list())
        self.kind_s: dict[str, list[float]] = {}
        self.files_read: list[int] = []

    def _op_list(self) -> list[tuple]:
        inp = self.spec["input"]
        return datagen.write_ops(self.seed, self.n_rows, inp["appends"], inp["mutations"],
                                 inp["point_reads"])

    def _replay(self, ops) -> list:
        """Expected output of every read op, from DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src_path}')")
        con.execute("CREATE TABLE t AS SELECT * FROM src WHERE false")
        cols = [d[0] for d in con.execute("SELECT * FROM src LIMIT 0").description]
        out = []
        for op in ops:
            kind = op[0]
            if kind == "append":
                con.execute(f"INSERT INTO t SELECT * FROM src WHERE l_rowid >= {op[1]} AND l_rowid < {op[2]}")
            elif kind == "merge":
                _, lo, hi, ilo, ihi = op
                con.execute(
                    f"DELETE FROM t WHERE (l_rowid >= {lo} AND l_rowid < {hi}) "
                    f"OR (l_rowid >= {ilo} AND l_rowid < {ihi})"
                )
                sel = ", ".join("l_quantity + 10.0 AS l_quantity" if c == "l_quantity" else c for c in cols)
                con.execute(f"INSERT INTO t SELECT {sel} FROM src WHERE l_rowid >= {lo} AND l_rowid < {hi}")
                con.execute(f"INSERT INTO t SELECT * FROM src WHERE l_rowid >= {ilo} AND l_rowid < {ihi}")
            elif kind == "delete":
                con.execute(f"DELETE FROM t WHERE l_rowid >= {op[1]} AND l_rowid < {op[2]}")
            elif kind == "update":
                con.execute(
                    f"UPDATE t SET l_quantity = l_quantity + 1 WHERE l_rowid >= {op[1]} AND l_rowid < {op[2]}"
                )
            if kind in ("point", "full"):
                where = f"WHERE l_rowid >= {op[1]} AND l_rowid < {op[2]}" if kind == "point" else ""
                cur = con.execute(f"SELECT * FROM t {where}")
                out.append(checks.digest(checks.canonical([d[0] for d in cur.description], cur.fetchall())))
            else:
                out.append(None)
        if ops[-1][0] == "full":
            self.live_bytes = con.execute("SELECT * FROM t").arrow().nbytes
        con.close()
        return out

    def begin_pass(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        self.pass_ops = self._op_list()  # regenerated from the seed each pass
        self.user_bytes = 0

    def _slice(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        self.user_bytes += self.keyed.slice(lo, hi - lo).nbytes
        return self.spark.read.parquet(self.src_path).filter(
            (F.col("l_rowid") >= lo) & (F.col("l_rowid") < hi)
        )

    def ops(self):
        from pyspark.sql import functions as F

        from tts_etl_pipeline_spark.sources import versioned as V

        def make(op):
            kind = op[0]

            def run(phase):
                phase("exec")
                t0 = time.perf_counter()
                res = None
                if kind == "append":
                    V.write_version(self._slice(op[1], op[2]), self.table, mode="append",
                                    collect_stats=("l_rowid",))
                elif kind == "merge":
                    upd = self._slice(op[1], op[2]).withColumn("l_quantity", F.col("l_quantity") + 10.0)
                    V.merge_upsert(self.spark, self.table, upd.unionByName(self._slice(op[3], op[4])),
                                   key="l_rowid")
                elif kind == "delete":
                    V.delete_where_dv(self.spark, self.table, "l_rowid", op[1], op[2] - 1)
                elif kind == "update":
                    V.update_where(self.spark, self.table, "l_rowid", op[1], op[2] - 1,
                                   {"l_quantity": "l_quantity + 1"})
                elif kind == "point":
                    df, skipped, total = V.read_version_pruned(self.spark, self.table, "l_rowid",
                                                               op[1], op[2] - 1)
                    res = (df.columns, df.collect())
                    self.files_read.append(total - skipped)
                elif kind == "compact":
                    V.compact(self.spark, self.table, target_files=2, collect_stats=("l_rowid",))
                elif kind == "full":
                    df = V.read_version(self.spark, self.table)
                    res = (df.columns, df.collect())
                self.kind_s.setdefault(kind, []).append(time.perf_counter() - t0)
                return res

            return run

        return [(f"{op[0]}{i}", make(op)) for i, op in enumerate(self.pass_ops)]

    def pass_input_bytes(self, store, group):
        return self.user_bytes

    def check_pass(self, results):
        bad = set()
        for (name, res), want in zip(results, self.expected):
            if want is None:
                continue
            if res is None or checks.digest(checks.canonical(*res)) != want:
                print(f"perfbench: {name} differs from the DuckDB replay", file=sys.stderr)
                bad.add(name)
        return bad

    def trace_layers(self, tracer):
        from tts_etl_pipeline_spark.sources.versioned import _vdir, table_detail

        names = {"append": "append", "merge": "merge", "delete": "delete_dv", "update": "update",
                 "compact": "compact", "point": "point_read", "full": "full_read"}
        for kind, label in names.items():
            self.layers[f"sources.versioned.{label}_s"] = statistics.median(self.kind_s.get(kind, [0.0]))
        self.layers["sources.versioned.files_live"] = table_detail(self.table)["num_files"]
        self.layers["sources.versioned.files_read_per_point_read"] = statistics.mean(self.files_read or [0])
        self.layers["sources.versioned.manifest_bytes"] = _dir_bytes(_vdir(self.table))
        written = _dir_bytes(self.table)
        self.layers["sources.bytes_written"] = written
        self.layers["sources.versioned.write_amp"] = written / max(1, self.user_bytes)
        self.layers["sources.versioned.space_amp"] = written / max(1, self.live_bytes)


class IngestWorkload(Workload):
    """`audio_ingest` then `table_writes` in one pass: the two write paths
    share one workload, which keeps the number of runs, and so the
    benchmark's total time, small."""

    def __init__(self, spec, spark, seed, work, data_dir):
        super().__init__(spec, spark, seed, work, data_dir)
        self.parts = [
            AudioWorkload(spec["audio_ingest"], spark, seed, work, data_dir),
            WritesWorkload(spec["table_writes"], spark, seed, work, data_dir),
        ]

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def begin_pass(self):
        for p in self.parts:
            p.begin_pass()

    def ops(self):
        self.split = []
        out = []
        for p in self.parts:
            ops = p.ops()
            self.split.append(len(ops))
            out += ops
        return out

    def pass_input_bytes(self, store, group):
        return sum(p.pass_input_bytes(store, group) for p in self.parts)

    def check_pass(self, results):
        bad, start = set(), 0
        for p, n in zip(self.parts, self.split):
            bad |= p.check_pass(results[start:start + n])
            start += n
        return bad

    def trace_layers(self, tracer):
        for p in self.parts:
            p.trace_layers(tracer)
            self.layers.update(p.layers)
        written = [p.layers["sources.bytes_written"] for p in self.parts]
        self.layers["sources.bytes_written"] = sum(written)


KINDS = {"queries": QueryWorkload, "ingest_writes": IngestWorkload}
