"""The workloads: what each sets up, what one pass runs, and how its
outputs are checked.

A pass is a list of ops; an op is one call into the package's public
API, either a registered query builder followed by a ``noop`` write or
one ``ivf_pq_append``. ``run_pass(tracer, check)`` runs one pass; with
``check`` the results are collected and compared with the oracle
instead of written to the ``noop`` sink. It returns one record per op
it attempted, ``{"kind", "wall_s", "ok", "reason"}``.
"""

from __future__ import annotations

import random
import time

from check import mismatch

#: Registered builders of the peaks workload.
PEAK_QUERIES = ("peak_attributes", "native_find_peaks")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(records: list, tracer, kind: str, build, expected=None, action: bool = True):
    """Run one op through ``tracer`` and log it in ``records``.

    The op is ``build()`` followed, if ``action``, by the ``noop`` write;
    with ``expected`` the result is collected instead and compared with
    it. An exception or a mismatch marks the op failed. Returns the
    op's result, or ``None`` if it raised."""
    if not action:
        sink = None
    elif expected is None:
        sink = noop
    else:
        def sink(df):
            return df.toPandas()
    rec = {"kind": kind, "wall_s": None, "ok": True, "reason": None}
    records.append(rec)
    try:
        out, rec["wall_s"] = tracer.run_op(kind, build, sink)
    except Exception as e:  # noqa: BLE001 - a failing op is a result, not a crash
        rec.update(ok=False, reason=f"{type(e).__name__}: {str(e)[:300]}")
        return None
    if expected is not None:
        t = time.time()
        why = mismatch(out, expected)
        rec["compare_s"] = time.time() - t
        if why is not None:
            rec.update(ok=False, reason=why)
    return out


class Peaks:
    """Fresh-scan ``peak_attributes`` and ``native_find_peaks`` at
    sf0.01: smooth, envelopes, diastolic, peaks and per-peak attributes,
    the lab's per-recording analysis. Each pass ends by releasing the
    caches the builders leave behind, so every pass scans afresh."""

    name = "peaks"
    scale = "sf0.01"
    oracles = list(PEAK_QUERIES)
    #: A pass takes about 10 s, longer than a run's --seconds; four give
    #: pass_s a median of four samples and op_s.p50 one of eight.
    min_passes = 4

    def __init__(self, seed: int, expected: dict):
        self.rng = random.Random(seed)
        self.expected = expected

    def setup(self, spark, tracer, sf_dir: str) -> None:
        import __spark_entry__ as entry
        from myodish_peak_analysis_spark.schema import read_table

        self.spark = spark
        self.sf = sf_dir
        registry = entry.queries()
        self.builders = {q: registry[q] for q in PEAK_QUERIES}
        with tracer.span("schema.load"):
            read_table(spark, self.sf, "events").count()

    def run_pass(self, tracer, check: bool) -> list[dict]:
        from myodish_peak_analysis_spark.session import release_caches

        records: list[dict] = []
        for q in self.rng.sample(PEAK_QUERIES, len(PEAK_QUERIES)):
            run(records, tracer, q, lambda: self.builders[q](self.spark, self.sf),
                self.expected[q] if check else None)
        with tracer.span("session.release"):
            release_caches(self.spark)
        return records


class AnnServe:
    """A long-lived ANN serving session at sf0.1. Set-up caches the
    embeddings and fits ``fit_ivf_pq_index`` once, on every vector with
    ``vec_id % 10 != 3``. Each pass appends the held-out slice with
    ``ivf_pq_append`` and then serves seeded ``ivf_pq_search`` batches
    against the appended index; the pass ends by releasing the
    append's caches. Searches are checked against the
    ``ann_serve_appended`` oracle restricted to the batch's queries."""

    name = "ann_serve"
    scale = "sf0.1"
    oracles = ["ann_serve_appended"]
    #: Passes are few and short because set-up (session, load, fit and
    #: the checked pass) already takes about half of a run, and a full
    #: check of the benchmark must fit its time limit.
    min_passes = 3
    n_batches = 3
    batch_size = 20

    def __init__(self, seed: int, expected: dict):
        from myodish_peak_analysis_spark.llm.similarity import ANN_QUERY_MOD

        self.rng = random.Random(seed)
        want = expected["ann_serve_appended"]
        ids = sorted(set(int(q) for q in want["query_id"]))
        if len(ids) < self.batch_size or any(q % ANN_QUERY_MOD for q in ids):
            raise ValueError(f"unexpected oracle query ids: {ids}")
        self.batches = [sorted(self.rng.sample(ids, self.batch_size))
                        for _ in range(self.n_batches)]
        self.expected = [want[want["query_id"].isin(b)] for b in self.batches]

    def setup(self, spark, tracer, sf_dir: str) -> None:
        from pyspark.sql import functions as F

        from myodish_peak_analysis_spark.llm import similarity
        from myodish_peak_analysis_spark.schema import read_table

        self.similarity = similarity
        with tracer.span("schema.load"):
            emb = read_table(spark, sf_dir, "embeddings").cache()
            emb.count()
        self.held_out = emb.filter(F.col("vec_id") % 10 == 3)
        self.queries = emb.filter(
            F.col("vec_id") % similarity.ANN_QUERY_MOD == 0
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        self.index, _ = tracer.run_op("fit", lambda: similarity.fit_ivf_pq_index(
            emb.filter(F.col("vec_id") % 10 != 3)))

    def run_pass(self, tracer, check: bool) -> list[dict]:
        from pyspark.sql import functions as F

        sim = self.similarity
        records: list[dict] = []
        appended = run(records, tracer, "append",
                       lambda: sim.ivf_pq_append(self.index, self.held_out), action=False)
        if appended is None:
            return records
        for b in self.rng.sample(range(self.n_batches), self.n_batches):
            ids = self.batches[b]
            run(records, tracer, "search", lambda: sim.ivf_pq_search(
                self.queries.filter(F.col("query_id").isin(ids)), appended),
                self.expected[b] if check else None)
        if check and not all(r["ok"] for r in records[1:]):
            records[0].update(ok=False, reason="searches over the appended index failed")
        with tracer.span("similarity.release"):
            appended.unpersist()
        return records


WORKLOADS = {w.name: w for w in (Peaks, AnnServe)}
