"""The publish round of ``feed_drain``: analytics plus table-format
writes over a ``documents`` table generated from the seed.

A round runs every query of ``FAMILIES`` once, in order, with
``clearCache()`` before each, into Spark's ``noop`` sink.  Off the clock
each result is checked against the query's DuckDB oracle (``ORACLES``) as
a multiset, with ``MIN_ROWS`` as the floor on its row count.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import Tracer
from gofeed_spark.queries import MIN_ROWS, ORACLES, QUERIES

# family -> registered query names.  Every query here reads only
# ``documents``, the one table the benchmark generates.
FAMILIES = {
    "llm": ["q36_token_count"],
    "table": ["q179_delta_merge_upsert", "q180_iceberg_merge_upsert"],
}
QUERY_NAMES = [q for qs in FAMILIES.values() for q in qs]
FAMILY_OF = {q: family for family, qs in FAMILIES.items() for q in qs}

# the vocabulary and shape of the staged test corpus
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
N_SOURCES = 20


def make_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: random words cut
    to 44-577 characters, one of 20 sources round-robin."""
    texts = []
    for _ in range(n_docs):
        n_chars = int(rng.integers(44, 578))
        words = rng.choice(WORDS, size=n_chars // 3 + 2)
        texts.append(" ".join(words)[:n_chars].rstrip())
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n_docs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _canon(value):
    return round(value, 9) if isinstance(value, float) else value


def multiset(columns: list[str], rows) -> list[tuple]:
    """Rows as a sorted list of tuples with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda row: tuple((v is None, str(v)) for v in row),
    )


def check_result(name: str, columns: list[str], rows: list[tuple], expected) -> list[str]:
    """``expected`` is the oracle's ``(columns, rows)`` or None when the
    query has no oracle.  Returns the errors."""
    floor = MIN_ROWS.get(name, 1)
    if len(rows) < floor:
        return [f"{name}: {len(rows)} rows, fewer than {floor}"]
    if expected is None:
        return []
    want_cols, want_rows = expected
    if sorted(columns) != sorted(want_cols):
        return [f"{name}: columns {sorted(columns)} != {sorted(want_cols)}"]
    got, want = multiset(columns, rows), multiset(want_cols, want_rows)
    if got != want:
        diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
        return [f"{name}: {len(got)} rows vs {len(want)} expected, first differences {diff}"]
    return []


def _stage_output_bytes(spark, after_stage: int) -> tuple[int, int]:
    """Bytes Spark's tasks wrote to output files in stages numbered above
    ``after_stage``, from the live status store; and the highest stage id."""
    sc = spark.sparkContext
    jvm, empty = sc._jvm, sc._jvm.java.util.ArrayList()
    stages = sc._jsc.sc().statusStore().stageList(
        empty, False, False, sc._gateway.new_array(jvm.double, 0), empty
    )
    total, top = 0, after_stage
    for stage in jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages):
        sid = stage.stageId()
        if sid > after_stage:
            total += stage.outputBytes()
        top = max(top, sid)
    return total, top


class QueryMix:
    """Full: 2*10^3 documents."""

    def __init__(self, spark, work_dir: str, seed: int, toy: bool):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.n_docs = 200 if toy else 2000
        self.data_dir = os.path.join(work_dir, "tables")
        self._expected: dict | None = None

    def setup(self) -> None:
        """The documents table.  No warm-up round: a run makes one round,
        after the feed's warm-up and drain have warmed Spark, so the first
        run of the Delta and Iceberg writers is part of the measured round
        (a warm-up round would cost a tenth of the run)."""
        os.makedirs(self.data_dir, exist_ok=True)
        pq.write_table(
            make_documents(self.rng, self.n_docs),
            os.path.join(self.data_dir, "documents.parquet"),
        )

    def _run(self, name: str, tracer: Tracer):
        """Build the query's DataFrame (the table family does its writes
        here), then execute it into the noop sink."""
        family = FAMILY_OF[name]
        self.spark.catalog.clearCache()
        with tracer.span(f"queries.{family}.plan"):
            df = QUERIES[name](self.spark, self.data_dir)
        with tracer.span(f"queries.{family}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _oracles(self) -> dict:
        if self._expected is None:
            con = duckdb.connect()
            try:
                path = os.path.join(self.data_dir, "documents.parquet")
                con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
                self._expected = {}
                for name in QUERY_NAMES:
                    if name not in ORACLES:
                        self._expected[name] = None
                        continue
                    cur = con.execute(ORACLES[name])
                    self._expected[name] = (
                        [d[0] for d in cur.description], cur.fetchall()
                    )
            finally:
                con.close()
        return self._expected

    def round(self, tracer) -> dict:
        """One round, inside the caller's clocked window: each query's
        DataFrame, for ``check``."""
        results = {}
        for name in QUERY_NAMES:
            with tracer.span(f"query.{name.split('_')[0]}"):
                results[name] = self._run(name, tracer)
        return results

    def output_bytes(self, after_stage: int = -1) -> tuple[int, int]:
        """Bytes Spark's tasks wrote to files in stages above
        ``after_stage``, and the highest stage id so far."""
        return _stage_output_bytes(self.spark, after_stage)

    def check(self, results: dict) -> list[str]:
        errors = []
        expected = self._oracles()
        for name, df in results.items():
            rows = [tuple(r) for r in df.collect()]
            errors += check_result(name, df.columns, rows, expected[name])
        return errors
