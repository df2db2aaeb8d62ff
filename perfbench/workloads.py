"""The benchmark's workloads.

* ``note_dump`` — the paper's job: an OMOP-NOTE-shaped table in
  embedded Derby, dumped through ``plans.dump.dump_table`` with the
  partitioned JDBC reader, sized Parquet shards and full read-back
  verify.
* ``catalog`` — catalog queries over a generated lake: relational and
  window queries (scans, joins, aggregates) and the LLM-data-prep
  kernels (Arrow ``mapInPandas``, broadcasts, near-dup verify).

An operation is one dump, or one catalog query forced with
``force.forced_count``. Every operation is checked: the dump must
verify and read back to the source digest; a forced query must return
its DuckDB oracle's row count. Once per run, untimed, each query is
also collected to the driver and compared with its oracle's full
values. A mismatch raises ``Mismatch``.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil

import gen
import harness
import oracle
from harness import Stopwatch
from spans import OPERATOR_LAYERS

NOTE_ROWS = 100_000
LAKE_LINEITEM = 20_000
LAKE_DOCUMENTS = 500
LAKE_EMBEDDINGS = 500


class Mismatch(Exception):
    """An operation's output disagreed with its oracle."""


def _timed(tracer, op: str, fn):
    """Run ``fn`` as one operation; returns ``(seconds, result)``.
    Traced, the operation is also the root ``op:`` span."""
    if tracer is None:
        with Stopwatch() as sw:
            result = fn()
        return sw.seconds, result
    with tracer.span(f"op:{op}", "harness") as s:
        result = fn()
    return s.duration, result


class Workload:
    name = ""
    #: operations of one pass, in canonical order
    ops: tuple[str, ...] = ()
    #: operations the traced run adds once, outside the passes
    probe_ops: tuple[str, ...] = ()
    #: unmeasured passes between the cold pass and the measured ones
    settle_passes = 0
    #: fewest measured passes, however long they take
    min_passes = 3

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.input_bytes = 0
        #: timings the fixture takes of the program's own calls
        self.fixture_metrics: dict[str, float] = {}

    def pass_order(self, k: int) -> list[str]:
        order = list(self.ops)
        random.Random(self.seed * 1000 + k).shuffle(order)
        return order

    def layer_of(self, op: str) -> str:
        raise NotImplementedError

    def prepare(self, with_probes: bool) -> None:
        """Make this seed's inputs and oracle answers (not timed);
        ``with_probes`` when the traced run will add ``probe_ops``."""

    def fixture(self, spark) -> None:
        """The program's own fixture work, timed as part of set-up."""

    def run_op(self, spark, op: str, tracer) -> float:
        """Run and check one operation; returns its wall seconds."""
        raise NotImplementedError

    def check_values(self, spark, attempt, ops) -> None:
        """Untimed full-value check of ``ops``, once per run; each check
        goes through ``attempt(label, fn)``. Only needed where
        ``run_op`` checks less than the full output."""

    def probes(self, spark, attempt) -> dict[str, float]:
        """Traced-run layer probes; each checked step goes through
        ``attempt(label, fn)``. Returns the probe metrics."""
        return {}


class NoteDump(Workload):
    name = "note_dump"
    ops = ("dump",)
    # a dump keeps getting faster over its first repetitions in a JVM
    # (about 2.5 s, then 1.8, then 1.5 on a 4-CPU box); without settling,
    # the median would depend on how many dumps fit in --seconds
    settle_passes = 2

    def prepare(self, with_probes: bool) -> None:
        self.notes = gen.notes_frame(self.seed, NOTE_ROWS)
        self.n = len(self.notes)
        self.src_rows, self.src_digest = oracle.note_digest(self.notes)
        # logical source bytes: 4 per INT/DATE value present + UTF-8 text
        self.src_bytes = int(
            4 * 3 * self.n
            + 4 * int(self.notes["PROVIDER_ID"].notna().sum())
            + self.notes["NOTE_TEXT"].str.len().sum()
        )
        self.reps = 0
        self.stored_ratios: list[float] = []

    def layer_of(self, op: str) -> str:
        return "dump"

    def fixture(self, spark) -> None:
        from omop_dump_to_parquet_spark.sources.jdbc import write_jdbc_table

        self.url = f"jdbc:derby:{os.path.join(self.work, 'derby', 'notes')};create=true"
        conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            conn.createStatement().executeUpdate(
                "CREATE TABLE NOTE (NOTE_ID INT PRIMARY KEY, PERSON_ID INT, "
                "NOTE_DATE DATE, PROVIDER_ID INT, NOTE_TEXT CLOB)"
            )
        finally:
            conn.close()
        df = spark.createDataFrame(
            self.notes,
            "NOTE_ID int, PERSON_ID int, NOTE_DATE date, PROVIDER_ID int, NOTE_TEXT string",
        )
        with Stopwatch() as sw:
            write_jdbc_table(df, self.url, "NOTE", num_partitions=harness.nproc())
        self.fixture_metrics["jdbc.load_s"] = sw.seconds

    def _source(self, spark, partitions: int | None):
        from omop_dump_to_parquet_spark.sources.jdbc import read_jdbc_table

        if partitions is None:
            return read_jdbc_table(spark, self.url, "NOTE")
        return read_jdbc_table(
            spark,
            self.url,
            "NOTE",
            partition_column="NOTE_ID",
            lower_bound=0,
            upper_bound=self.n,
            num_partitions=partitions,
        )

    def _read_back(self, path: str) -> tuple[int, int, int]:
        """(rows, digest, parquet bytes) of a dumped directory."""
        import pyarrow.dataset as ds

        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
        table = ds.dataset(files, format="parquet").to_table()
        rows, digest = oracle.note_digest(table)
        return rows, digest, sum(os.path.getsize(f) for f in files)

    def run_op(self, spark, op: str, tracer) -> float:
        from omop_dump_to_parquet_spark.plans.dump import dump_table

        self.reps += 1
        out = os.path.join(self.work, "dump", f"rep{self.reps}")

        def dump():
            return dump_table(
                spark,
                self._source(spark, harness.nproc()),
                out,
                casts={"PROVIDER_ID": "long"},
            )

        try:
            seconds, result = _timed(tracer, op, dump)
            if not result.ok or result.rows_written != self.n:
                raise Mismatch(
                    f"dump: ok={result.ok} rows_written={result.rows_written} expected {self.n}"
                )
            rows, digest, stored = self._read_back(out)
            if (rows, digest) != (self.src_rows, self.src_digest):
                raise Mismatch(f"dump: read-back digest differs ({rows} rows)")
            self.stored_ratios.append(stored / self.src_bytes)
            return seconds
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def probes(self, spark, attempt) -> dict[str, float]:
        import pyarrow.parquet as pq

        from omop_dump_to_parquet_spark.force import forced_count
        from omop_dump_to_parquet_spark.sinks.parquet_sink import (
            REFERENCE_SIZING,
            write_parquet,
        )
        from omop_dump_to_parquet_spark.sources.jdbc import normalize
        from omop_dump_to_parquet_spark.verify import verify_parquet

        samples: dict[str, list[float]] = {}
        out = os.path.join(self.work, "sink_probe")
        mat = normalize(
            self._source(spark, harness.nproc()), {"PROVIDER_ID": "long"}
        ).localCheckpoint(eager=True)

        def timed(key: str, fn, ok) -> None:
            harness.gc(spark)
            with Stopwatch() as sw:
                result = fn()
            samples.setdefault(key, []).append(sw.seconds)
            if not ok(result):
                raise Mismatch(f"{key}: {result!r}")

        for _ in range(3):
            for key, partitions in (
                ("jdbc.read_s", harness.nproc()),
                ("jdbc.read_1conn_s", None),
            ):
                attempt(f"probe:{key}", lambda: timed(
                    key,
                    lambda: forced_count(self._source(spark, partitions)),
                    lambda n: n == self.n,
                ))
            shutil.rmtree(out, ignore_errors=True)
            attempt("probe:sink.write_s", lambda: timed(
                "sink.write_s", lambda: write_parquet(mat, out), lambda _: True
            ))
            for key, fast in (("verify.full_s", False), ("verify.fast_s", True)):
                attempt(f"probe:{key}", lambda: timed(
                    key,
                    lambda: verify_parquet(
                        spark,
                        out,
                        expected_count=self.n,
                        expected_schema=mat.schema,
                        max_records_per_file=REFERENCE_SIZING["rows_per_file"],
                        fast=fast,
                    ),
                    lambda report: report.ok,
                ))
        metrics = {key: harness.median(values) for key, values in samples.items()}
        files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
        metrics["sink.files"] = len(files)
        metrics["sink.row_groups"] = sum(pq.ParquetFile(f).num_row_groups for f in files)
        metrics["sink.bytes"] = sum(os.path.getsize(f) for f in files)
        metrics["sink.stored_bytes_per_src_byte"] = metrics["sink.bytes"] / self.src_bytes
        return metrics


class Catalog(Workload):
    """Catalog queries, named by id prefix, over a generated lake."""

    name = "catalog"
    # the relational and window queries and the near-dup d04 are timed;
    # the small Arrow kernels (s06 t02 m02) cost little of a pass and are
    # read from the traced run, as are d06 and t23
    ops = ("q25", "w04", "d04")
    probe_ops = ("s06", "t02", "m02", "d06", "t23")
    # a d04 swings by 10-30% from one pass to the next on a shared host;
    # the median of five (about 28 s) is steadier than that of three
    min_passes = 5

    def prepare(self, with_probes: bool) -> None:
        from omop_dump_to_parquet_spark import load_catalog

        queries, oracles = load_catalog()
        self.lake = os.path.join(self.work, "lake")
        self.input_bytes = gen.write_lake(
            self.lake,
            self.seed,
            gen.lake_sizes(LAKE_LINEITEM, LAKE_DOCUMENTS, LAKE_EMBEDDINGS),
        )
        self.queries = {}
        for qid in self.ops + (self.probe_ops if with_probes else ()):
            name = next(n for n in queries if n.startswith(qid + "_"))
            self.queries[qid] = (name, queries[name], oracles[name])
        con = oracle.duck_connection(self.lake, gen.LAKE_TABLES)
        try:
            self.expected = {
                qid: con.sql(sql).df() for qid, (_, _, sql) in self.queries.items()
            }
        finally:
            con.close()

    def layer_of(self, op: str) -> str:
        """The operators module that registered query ``op``."""
        fn = self.queries[op][1]
        inner = next(
            c.cell_contents
            for c in fn.__closure__
            if inspect.isfunction(c.cell_contents)
        )
        layer = inner.__module__.rsplit(".", 1)[-1]
        return layer if layer in OPERATOR_LAYERS else "relational"

    def run_op(self, spark, op: str, tracer) -> float:
        from omop_dump_to_parquet_spark.force import forced_count

        name, fn, _ = self.queries[op]
        layer = self.layer_of(op)

        def run():
            if tracer is None:
                return forced_count(fn(spark, self.lake))
            with tracer.span(f"query:{op}", layer):
                df = fn(spark, self.lake)
            with tracer.span(f"force:{op}", layer):
                return forced_count(df)

        seconds, rows = _timed(tracer, op, run)
        if rows != len(self.expected[op]):
            raise Mismatch(f"{name}: {rows} rows, oracle {len(self.expected[op])}")
        return seconds

    def check_values(self, spark, attempt, ops) -> None:
        for op in ops:
            name, fn, _ = self.queries[op]

            def check():
                diff = oracle.frames_match(
                    fn(spark, self.lake).toPandas(), self.expected[op]
                )
                if diff is not None:
                    raise Mismatch(f"{name}: {diff}")

            attempt(f"check:{op}", check)

    def probes(self, spark, attempt) -> dict[str, float]:
        """d04 split in two stages, as the dedup module composes them:
        candidate generation timed to a count, then exact-Jaccard
        verification over a materialized candidate set."""
        from omop_dump_to_parquet_spark.operators.dedup import (
            MINHASH_THRESHOLD,
            d04_candidate_pairs,
            verify_jaccard_pairs,
        )
        from omop_dump_to_parquet_spark.operators.graph import LAST_CC_STATS
        from omop_dump_to_parquet_spark.sources.parquet import table

        metrics = {"d06.cc_rounds": LAST_CC_STATS.get("rounds", 0)}
        docs = table(spark, self.lake, "documents")
        harness.gc(spark)
        with Stopwatch() as cand:
            n_cand = d04_candidate_pairs(docs).count()
        cands = d04_candidate_pairs(docs).localCheckpoint(eager=True)

        def same_candidates():
            if cands.count() != n_cand:
                raise Mismatch("d04 candidate set differs between two plans")

        attempt("probe:d04.candidates", same_candidates)
        harness.gc(spark)
        with Stopwatch() as ver:
            pairs = verify_jaccard_pairs(
                docs, cands, MINHASH_THRESHOLD, use_broadcast=True
            ).count()
        metrics.update(
            {
                "d04.candidates_s": cand.seconds,
                "d04.verify_s": ver.seconds,
                "d04.n_candidates": n_cand,
                "d04.pairs": pairs,
                "d04.verify_yield": pairs / n_cand if n_cand else 0.0,
            }
        )
        return metrics


WORKLOADS = {w.name: w for w in (NoteDump, Catalog)}
