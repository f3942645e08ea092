"""The benchmark's three workloads: search_serve, ingest_churn and
curate_dedup.

Each workload is one closed-loop client driving the engine's public
entry points (``api.VectorDB`` and the ``functions``/``operators``
modules) with inputs from :mod:`gen`. A workload sets up (several times,
so set-up time is a median), then repeats whole cycles of its operation
mix until its time is up, checking every answer as it goes. A wrong
answer counts as a failed operation; the run never aborts on one.

With a tracer, the first half of the time runs untraced and the second
half traced: the per-layer metrics come from the traced half, and the
difference between the halves' end-to-end metrics is the tracing
overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import check
import gen
from local_vectordb_spark.api import VectorDB
from local_vectordb_spark.functions import embedding as embedding_mod
from local_vectordb_spark.functions import text as text_mod
from local_vectordb_spark.operators import crud, dedup, fulltext, ivf, knn, sampling
from local_vectordb_spark.sources.json_records import SCHEMAS

K = 10
# Set-up runs this many times per run and setup_s is the median. Two,
# not more: staging a store costs 10-25 s of Spark jobs, and every run of
# the benchmark pays for its set-ups.
SETUP_REPS = 2

# Input sizes. "full" is the benchmark; "tiny" is for its own tests. See
# README.md for why each was chosen.
SIZES = {
    "full": {
        "serve_chunks": 5_000, "queries": 256, "batch": 256,
        "churn_base": 2_000, "churn_add": 200, "churn_update": 100, "churn_delete": 50,
        "churn_cycles": 64, "ann_batch": 64, "docs": 4_000,
    },
    "tiny": {
        "serve_chunks": 600, "queries": 16, "batch": 8,
        "churn_base": 300, "churn_add": 12, "churn_update": 6, "churn_delete": 3,
        "churn_cycles": 8, "ann_batch": 8, "docs": 300,
    },
}

# nsw is left out: its stored graph costs ~90 s to build at 1,500 chunks
# (exact tier, <= 20k rows) and ~40 s at 50k (LSH tier), more than a
# run's whole time budget. See README.md, known costs.
SERVE_TYPES = ("cosine", "sign", "ivf", "sq8", "hybrid")
READ_KINDS = (*SERVE_TYPES, "sign_filtered")  # one round of the serving mix
ANN_TYPES = ("sign", "ivf", "sq8", "sign_filtered")
BUILT_TYPES = ("sign", "ivf", "sq8")  # index types with a stored artifact
QUALITY_MIN = 0.75
PACK_BUDGET = 2048

# End-to-end metrics as BENCHMARK.json lists them: name -> unit. What
# each means on each workload is in README.md.
END_TO_END = {
    "setup_s": "s",
    "p50_s": "s",
    "items_per_s": "1/s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}

# Per-layer metrics as BENCHMARK.json lists them: name -> (unit,
# better). A layer idle on a workload reports 0 there.
_S, _N = ("s", "lower"), ("count", "lower")
PER_LAYER = {
    "session.start_s": _S,
    "api.stage_corpus_s": _S,
    **{f"api.index_build_s.{t}": _S for t in BUILT_TYPES},
    **{f"api.search_s.{t}": _S for t in SERVE_TYPES},
    **{f"api.jobs_per_search.{t}": _N for t in SERVE_TYPES},
    **{f"spark.tasks_per_search.{t}": _N for t in SERVE_TYPES},
    **{f"operators.{n}_s": _S for n in (
        "knn.knn_brute_force", "knn.hydrate", "ivf.ivf_search", "fulltext.bm25_scores",
        "knn.knn_batch")},
    "api.jobs_per_batch": _N,
    **{f"api.jobs_per_commit.{t}": _N for t in ("add", "update", "delete")},
    **{f"operators.crud.{t}_s": _S for t in ("reject_duplicates", "upsert", "delete_keys")},
    "functions.embedding.rows_per_s": ("1/s", "higher"),
    "api.bytes_written_per_commit": ("B", "lower"),
    "api.store_bytes": ("B", "lower"),
    **{f"api.index_maintenance_s.{t}": _S for t in BUILT_TYPES},
    **{f"api.jobs_first_search_after_write.{t}": _N for t in BUILT_TYPES},
    "api.table_changes_s": _S,
    "api.jobs_per_change_feed": _N,
    "functions.text.quality_score_s": _S,
    **{f"operators.dedup.{t}_s": _S for t in (
        "exact_dupes", "minhash_lsh_dupes", "simhash_dupes", "connected_components")},
    **{f"operators.sampling.{t}_s": _S for t in ("hash_split", "pack_sequences")},
    **{f"operators.dedup.{a}.{m}": v for a in ("minhash", "simhash") for m, v in (
        ("candidate_pairs", _N), ("pairs_out", _N), ("pair_precision", ("ratio", "higher")))},
    # traced minus untraced, per end-to-end metric
    "trace_overhead.p50_s": _S,
    "trace_overhead.items_per_s": ("1/s", "higher"),
    "trace_overhead.recall": ("ratio", "higher"),
}

# Layer functions wrapped with spans in a traced run: (module, label).
TRACED_MODULES = (
    (knn, "operators.knn"), (ivf, "operators.ivf"),
    (fulltext, "operators.fulltext"), (crud, "operators.crud"),
    (dedup, "operators.dedup"), (sampling, "operators.sampling"),
    (text_mod, "functions.text"), (embedding_mod, "functions.embedding"),
)


def wrap_layers(tracer) -> None:
    """Span every public function defined in the traced modules."""
    for mod, label in TRACED_MODULES:
        for name, fn in list(vars(mod).items()):
            if (
                not name.startswith("_")
                and callable(fn)
                and getattr(fn, "__module__", None) == mod.__name__
                and not isinstance(fn, type)
            ):
                tracer.wrap(mod, name, f"{label}.{name}")


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile), or (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    s = sorted(values)
    return s[n - 11], int(100 * (n - 10) / n)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    digest: str = ""
    session_start_s: float = 0.0
    tracing: bool = False

    def verdict(self, op: str, reason: str | None) -> None:
        self.attempted += 1
        if reason:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{op}: {reason}")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else nullcontext()

    def halves(self):
        """Yield ('untraced'|'traced'|'all', deadline) phases."""
        t0 = time.perf_counter()
        if self.tracer is None:
            yield "all", t0 + self.seconds
            return
        yield "untraced", t0 + self.seconds / 2
        self.tracing = True
        wrap_layers(self.tracer)
        try:
            yield "traced", time.perf_counter() + self.seconds / 2
        finally:
            self.tracer.unwrap_all()
            self.tracing = False

    def force(self) -> None:
        if self.tracing:
            self.tracer.force_pending()


def _inodes(root: str) -> dict[int, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


def _chunks_df(spark, work: str, name: str, ids, texts, labels, docs, emb):
    """Stage chunk rows as a parquet file in the work directory and read
    it back (Arrow-speed staging instead of row-by-row py4j)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ids)
    emb_col = (
        pa.array([None] * n, type=pa.list_(pa.float32()))
        if emb is None
        else pa.FixedSizeListArray.from_arrays(
            pa.array(np.asarray(emb, np.float32).ravel()), gen.DIM
        ).cast(pa.list_(pa.float32()))
    )
    tbl = pa.table(
        {
            "id": pa.array(ids, pa.string()),
            "metadata": pa.array(
                [[("label", lb)] for lb in labels], pa.map_(pa.string(), pa.string())
            ),
            "created_at": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            "updated_at": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            "content": pa.array(texts, pa.string()),
            "embedding": emb_col,
            "document_id": pa.array(docs, pa.string()),
        }
    )
    path = os.path.join(work, "staged", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return spark.read.schema(SCHEMAS["chunks"]).parquet(path)


def _stage_store(run: Run, root: str, corpus: gen.Corpus, tag: str) -> None:
    """Commit the library, its documents and the chunks (with
    embeddings) into a new store at ``root``."""
    spark = run.spark
    db = VectorDB(spark, root)
    lib = f"lib{run.seed}"
    db.add("libraries", spark.createDataFrame(
        [(lib, {"source": "perfbench"}, None, None, "perfbench")], SCHEMAS["libraries"]))
    db.add("documents", spark.createDataFrame(
        [(d, {}, None, None, d, lib) for d in corpus.doc_ids], SCHEMAS["documents"]))
    rej = db.add("chunks", _chunks_df(
        spark, run.work, tag, corpus.ids, corpus.text, corpus.label, corpus.doc_of, corpus.emb))
    n_rej = rej.count()
    run.verdict("stage", f"{n_rej} staged rows rejected" if n_rej else None)


def _rows(df) -> list[tuple[str, float]]:
    return [(r.id, float(r.score)) for r in df.collect()]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ================================================================ set-up


def _setup_store(run: Run, tag: str, n_chunks: int, extra=None):
    """Set up a store SETUP_REPS times: generate the inputs and stage a
    fresh store (library, documents, chunks with embeddings). The last
    store is kept; on it, build each stored index with a first search
    and make the first call of every other read shape, so that plan
    compilation and JIT warm-up are set-up cost rather than the first
    timed operation's. Returns (db, root, corpus, queries, set-up
    seconds per rep with the one-off build time added to each);
    ``queries`` is (vectors, texts, labels), plus ``extra(corpus)`` when
    given."""
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        corpus = gen.make_corpus(run.seed, n_chunks)
        queries = gen.make_queries(corpus, run.seed, run.size["queries"])
        if extra is not None:
            queries = (*queries, extra(corpus))
        if rep:
            shutil.rmtree(root, ignore_errors=True)
        root = os.path.join(run.work, f"{tag}{rep}")
        _stage_store(run, root, corpus, f"{tag}{rep}")
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    db = VectorDB(run.spark, root)
    qv, qtext, qlabel = queries[:3]
    for t in BUILT_TYPES:
        _, dt = _timed(lambda: db.search(query_vec=qv[0].tolist(), index_type=t, k=K).collect())
        run.layer[f"api.index_build_s.{t}"] = dt
    for kind in ("cosine", "hybrid"):
        db.search(query_vec=qv[0].tolist(), query=qtext[0], index_type=kind, k=K).collect()
    db.search(query_vec=qv[0].tolist(), index_type="sign", k=K,
              metadata={"label": qlabel[0]}).collect()
    for t in ("cosine", *BUILT_TYPES):
        db.search_batch(query_vecs=[(0, qv[0].tolist())], index_type=t, k=K).collect()
    build = time.perf_counter() - t0
    run.layer["api.stage_corpus_s"] = median(reps)
    return db, root, corpus, queries, [r + build for r in reps]


# ================================================================ reads


def _search_op(run: Run, db, kind: str, q, exact_for, text=None, label=None,
               span: str | None = None):
    """One checked single search. ``kind`` is an index type, or
    "sign_filtered" for a sign search with a ``label`` metadata filter.
    ``exact_for(label)`` gives the check.Exact reference of the rows the
    search may return (label None: all rows). Returns (latency, recall
    or None for exact and fused types)."""
    args = {"query_vec": q.tolist(), "k": K}
    ex = exact_for(None)
    if kind == "sign_filtered":
        args.update(index_type="sign", metadata={"label": label})
        ex = exact_for(label)
    else:
        args["index_type"] = kind
        if kind == "hybrid":
            args["query"] = text
    with run.span(span or f"api.search.{kind}"):
        got, dt = _timed(lambda: _rows(db.search(**args)))
    run.force()
    exp_ids, exp_scores, s = ex.topk(q, K)
    true = ex.true_of(s, got)
    if kind == "cosine":
        bad = check.check_exact(got, exp_ids, exp_scores, true)
    elif kind == "hybrid":
        # RRF scores have no exact reference: k distinct live ids,
        # ranked best first
        bad = check.check_ranked(got, {i: sc for i, sc in got}, K)
        if not bad and len(true) != K:
            bad = "hybrid returned an id that is not a live row"
    else:
        bad = check.check_ranked(got, true, K)
    run.verdict(f"search.{kind}", bad)
    return dt, (check.recall([g[0] for g in got], exp_ids) if kind in ANN_TYPES else None)


def _batch_op(run: Run, db, qs: list[tuple[int, list[float]]], ex, index_type: str = "cosine"):
    """One checked search_batch call over ``qs``. Returns (latency, mean
    recall@10 over the queries; 1.0 for exact cosine)."""
    with run.span("api.search_batch" if index_type == "cosine" else f"api.search_batch.{index_type}"):
        rows, dt = _timed(
            lambda: db.search_batch(query_vecs=qs, index_type=index_type, k=K).collect())
    run.force()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.id, float(r.score)))
    bad, recs = None, []
    for qid, v in qs:
        exp_ids, exp_scores, s = ex.topk(np.asarray(v), K)
        got = sorted(per_q.get(qid, []), key=lambda x: (-x[1], x[0]))
        if index_type == "cosine":
            bad = check.check_exact(got, exp_ids, exp_scores, ex.true_of(s, got))
        else:
            bad = check.check_ranked(got, ex.true_of(s, got), K)
        if bad:
            bad = f"query {qid}: {bad}"
            break
        recs.append(check.recall([g[0] for g in got], exp_ids))
    run.verdict(f"search_batch.{index_type}", bad)
    return dt, (float(np.mean(recs)) if recs else 0.0)


def _search_layers(run: Run) -> None:
    tr = run.tracer
    for t in SERVE_TYPES:
        run.layer[f"api.search_s.{t}"] = tr.median(f"api.search.{t}")
        run.layer[f"api.jobs_per_search.{t}"] = tr.counts(f"api.search.{t}", "jobs")
        run.layer[f"spark.tasks_per_search.{t}"] = tr.counts(f"api.search.{t}", "tasks")
    for name in ("knn.knn_brute_force", "knn.hydrate", "ivf.ivf_search",
                 "fulltext.bm25_scores", "knn.knn_batch"):
        run.layer[f"operators.{name}_s"] = tr.operator_s(f"operators.{name}")
    run.layer["api.jobs_per_batch"] = tr.counts("api.search_batch", "jobs")


# ================================================================ search_serve


def search_serve(run: Run) -> dict:
    """Read-only serving: the serving mix (every index type but nsw,
    plus a label-filtered sign search) and a search_batch call per
    cycle, against warm per-version index artifacts."""
    size = run.size
    db, _, corpus, (qv, qtext, qlabel), setups = _setup_store(run, "serve", size["serve_chunks"])
    run.digest = gen.digest(corpus.digest(), qv, qtext, qlabel)
    exact_for = _exact_by_label(corpus.ids, corpus.emb, corpus.label)
    batches = _batches(qv, size["batch"])

    phases = {}
    qi = nb = 0
    for phase, deadline in run.halves():
        lat, rec, batch_s = [], [], []
        while True:
            for kind in READ_KINDS:
                j = qi % len(qv)
                dt, r = _search_op(run, db, kind, qv[j], exact_for, qtext[j], qlabel[j])
                lat.append(dt)
                if r is not None:
                    rec.append(r)
                qi += 1
            batch_s.append(_batch_op(run, db, batches[nb % len(batches)], exact_for(None))[0])
            nb += 1
            if time.perf_counter() >= deadline:
                break
        phases[phase] = {
            "p50_s": median(lat),
            "items_per_s": len(batch_s) * size["batch"] / sum(batch_s),
            "recall": float(np.mean(rec)),
            "_lat": lat,
        }

    base = phases.get("all") or phases["untraced"]
    t_val, t_pct = tail(base["_lat"])
    run.report.update({
        "search_p50_s": base["p50_s"],
        "search_tail_s": t_val, "search_tail_pct": t_pct, "search_n": len(base["_lat"]),
        "batch_qps": base["items_per_s"],
        "recall_at_10": base["recall"],
    })
    if run.tracer is not None:
        _search_layers(run)
    return _finish(run, phases, setups)


def _exact_by_label(ids, emb, labels):
    """exact_for(label) over fixed rows, one reference per label."""
    rows: dict = {None: list(range(len(ids)))}
    for i, lb in enumerate(labels):
        rows.setdefault(lb, []).append(i)
    ex = {lb: check.Exact([ids[i] for i in r], emb[r]) for lb, r in rows.items()}
    return ex.__getitem__


def _batches(qv, size: int, n: int = 4):
    return [
        [(j, qv[(b * size + j) % len(qv)].tolist()) for j in range(size)]
        for b in range(n)
    ]


# ================================================================ ingest_churn


def ingest_churn(run: Run) -> dict:
    """Writes beside reads. Each cycle adds text-only chunks (embedded
    by the facade), updates content (re-embedded) and deletes, reading
    the change feed after every commit; then it searches each stored
    index type once right after the writes (index upkeep), and runs the
    serving mix once on the now-warm indexes."""
    size = run.size

    def make_stream(corpus):
        return gen.make_churn(corpus, run.seed, size["churn_cycles"], size["churn_add"],
                              size["churn_update"], size["churn_delete"])

    db, root, corpus, (qv, qtext, qlabel, stream), setups = _setup_store(
        run, "churn", size["churn_base"], make_stream)
    run.digest = gen.digest(
        corpus.digest(), qv, qtext, qlabel,
        [(c.adds, c.updates, c.deletes, c.query) for c in stream])
    model = check.StoreModel(corpus.ids, corpus.text, corpus.emb, corpus.label)
    batches = _batches(qv, size["batch"])
    store = os.path.join(root, "chunks")
    spark = run.spark
    version = [db._current_version("chunks")]
    written, payload = [], []

    def commit(kind: str, fn, expected: dict, user_bytes: int):
        before = _inodes(store)
        with run.span(f"api.commit.{kind}"):
            _, dt = _timed(fn)
        run.force()
        after = _inodes(store)
        written.append(sum(sz for i, sz in after.items() if i not in before))
        payload.append(user_bytes)
        since = version[0]
        version[0] = db._current_version("chunks")
        run.verdict(f"commit.{kind}", None if version[0] == since + 1
                    else f"commit moved v{since} to v{version[0]}")
        with run.span("api.table_changes"):
            feed, fdt = _timed(lambda: [
                (r.change_type, r.id, r.content)
                for r in db.table_changes("chunks", since).select(
                    "change_type", "id", "content").collect()
            ])
        run.force()
        run.verdict("table_changes", check.check_changes(feed, expected))
        return dt, fdt

    phases = {}
    ci = qi = 0
    for phase, deadline in run.halves():
        commits, feeds, rec = [], [], []
        first = {t: [] for t in BUILT_TYPES}
        warm = {t: [] for t in BUILT_TYPES}
        reads, op_s, n_ops, cycle_s, batch_s, ann_batch_recall = [], 0.0, 0, [], [], []
        while True:
            if ci >= len(stream):
                run.verdict("churn", f"operation stream exhausted after {ci} cycles")
                break
            cyc = stream[ci]
            ci += 1
            adds = [(i, t, gen.hashed_embedding(t), lb) for i, t, lb, _ in cyc.adds]
            add_df = _chunks_df(spark, run.work, f"add{ci}", *zip(*cyc.adds), None)
            if run.tracing:
                run.tracer.time_noop(
                    "functions.embedding", add_df.select(db.embedder(F.col("content"))))
            label_of = {i: lb for i, _, lb, _ in cyc.adds}  # updates may name this cycle's adds
            upd = [(i, t, gen.hashed_embedding(t), label_of.get(i) or model.rows[i][2])
                   for i, t in cyc.updates]
            upd_df = spark.createDataFrame(
                [(i, None, None, None, t, None, None) for i, t in cyc.updates], SCHEMAS["chunks"])
            keys = spark.createDataFrame([(i,) for i in cyc.deletes], "id string")
            for kind, fn, exp, nbytes, apply in (
                ("add", lambda: _no_rejects(run, db.add("chunks", add_df), "add"),
                 {i: ("upsert", t) for i, t, _, _ in adds},
                 sum(_row_bytes(i, t, lb) for i, t, _, lb in adds),
                 lambda: model.upsert(adds)),
                ("update", lambda: _no_rejects(run, db.update("chunks", upd_df), "update"),
                 {i: ("upsert", t) for i, t, _, _ in upd},
                 sum(_row_bytes(i, t, lb) for i, t, _, lb in upd),
                 lambda: model.upsert(upd)),
                ("delete", lambda: db.delete("chunks", keys),
                 {i: ("remove", None) for i in cyc.deletes},
                 sum(len(i) for i in cyc.deletes),
                 lambda: model.delete(cyc.deletes)),
            ):
                dt, fdt = commit(kind, fn, exp, nbytes)
                apply()
                commits.append(dt)
                feeds.append(fdt)
            exact_for = model.exact
            for t in BUILT_TYPES:  # first search after the writes: index upkeep
                dt, r = _search_op(run, db, t, cyc.query, exact_for, span=f"api.search_first.{t}")
                first[t].append(dt)
                rec.append(r)
            for kind in READ_KINDS:  # the serving mix on warm indexes
                j = qi % len(qv)
                qi += 1
                dt, r = _search_op(run, db, kind, qv[j], exact_for, qtext[j], qlabel[j])
                reads.append(dt)
                if kind in warm:
                    warm[kind].append(dt)
                if r is not None:
                    rec.append(r)
            dt, _ = _batch_op(run, db, batches[ci % len(batches)], exact_for(None))
            batch_s.append(dt)
            cycle_ops = commits[-3:] + feeds[-3:] + [first[t][-1] for t in BUILT_TYPES] + reads[-len(READ_KINDS):] + [dt]
            for t in BUILT_TYPES:  # recall over many queries: one batch per index type
                ann_qs = batches[(ci + 1) % len(batches)][: size["ann_batch"]]
                dt, r = _batch_op(run, db, ann_qs, exact_for(None), t)
                ann_batch_recall.append(r)
                cycle_ops.append(dt)
            op_s += sum(cycle_ops)
            n_ops += len(cycle_ops)
            cycle_s.append(sum(cycle_ops))
            if time.perf_counter() >= deadline:
                break
        phases[phase] = {
            "p50_s": median(commits),
            "items_per_s": n_ops / op_s if op_s else 0.0,
            # the single searches' recall and each ANN batch's mean recall
            # weigh by query count
            "recall": float(np.average(
                rec + ann_batch_recall,
                weights=[1] * len(rec) + [size["ann_batch"]] * len(ann_batch_recall))),
            "_commits": commits, "_feeds": feeds, "_first": first, "_warm": warm,
            "_reads": reads, "_cycle_s": cycle_s, "_batch_s": batch_s,
        }

    final = {r.id for r in db.table("chunks").select("id").collect()}
    run.verdict("final_ids", None if final == set(model.rows) else
                f"store has {len(final)} ids, model {len(model.rows)}; "
                f"{len(final ^ set(model.rows))} differ")

    base = phases.get("all") or phases["untraced"]
    live_user = sum(_row_bytes(i, t, lb) for i, (t, _, lb) in model.rows.items())
    store_bytes = sum(_inodes(store).values())
    t_val, t_pct = tail(base["_commits"])
    run.report.update({
        "commit_p50_s": base["p50_s"],
        "commit_tail_s": t_val, "commit_tail_pct": t_pct, "commit_n": len(base["_commits"]),
        "read_after_write_p50_s": median([x for v in base["_first"].values() for x in v]),
        "change_feed_p50_s": median(base["_feeds"]),
        "search_p50_s": median(base["_reads"]),
        "write_amp": sum(written) / sum(payload),
        "space_amp": store_bytes / live_user,
        "cycles": ci,
        "cycle_op_s": base["_cycle_s"],
        "op_s_by_kind": {
            **{f"commit.{k}": base["_commits"][i::3] for i, k in enumerate(("add", "update", "delete"))},
            **{f"first.{t}": v for t, v in base["_first"].items()},
            **{f"read.{k}": base["_reads"][i::len(READ_KINDS)] for i, k in enumerate(READ_KINDS)},
            "batch": base["_batch_s"],
        },
    })
    if run.tracer is not None:
        tr = run.tracer
        _search_layers(run)
        for t in ("add", "update", "delete"):
            run.layer[f"api.jobs_per_commit.{t}"] = tr.counts(f"api.commit.{t}", "jobs")
        for t in ("reject_duplicates", "upsert", "delete_keys"):
            run.layer[f"operators.crud.{t}_s"] = tr.operator_s(f"operators.crud.{t}")
        emb_s = tr.forced.get("functions.embedding", [])
        run.layer["functions.embedding.rows_per_s"] = (
            size["churn_add"] / median(emb_s) if emb_s else 0.0)
        run.layer["api.bytes_written_per_commit"] = median(written)
        run.layer["api.store_bytes"] = store_bytes
        tp = phases["traced"]
        for t in BUILT_TYPES:
            run.layer[f"api.index_maintenance_s.{t}"] = median(tp["_first"][t]) - median(tp["_warm"][t])
            run.layer[f"api.jobs_first_search_after_write.{t}"] = tr.counts(f"api.search_first.{t}", "jobs")
        run.layer["api.table_changes_s"] = tr.median("api.table_changes")
        run.layer["api.jobs_per_change_feed"] = tr.counts("api.table_changes", "jobs")
    return _finish(run, phases, setups)


def _row_bytes(i: str, text: str, label: str) -> int:
    """User bytes of one chunk row: id, text, label entry, embedding."""
    return len(i) + len(text) + len("label") + len(label) + 4 * gen.DIM


def _no_rejects(run: Run, rejected, op: str) -> None:
    n = rejected.count()
    if n:
        run.verdict(op, f"{n} rows rejected")


# ================================================================ curate_dedup


def curate_dedup(run: Run) -> dict:
    """Bulk LLM-data curation: quality filter, exact dedup, MinHash-LSH
    near-dup pairs, connected components, keep canonical, hash split and
    sequence packing, plus SimHash pairs on the same input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark = run.spark

    def stage(docs: gen.Docs, name: str, n: int | None = None):
        path = os.path.join(run.work, f"{name}.parquet")
        pq.write_table(pa.table({
            "doc_id": docs.ids[:n], "text": docs.text[:n], "lang": docs.lang[:n],
            "source": docs.source[:n], "n_tokens": [len(t.split()) for t in docs.text[:n]],
        }), path)
        return spark.read.parquet(path)

    def one_pass(frame):
        qs = text_mod.quality_score_batch()
        good = frame.filter(qs(F.col("text")) >= QUALITY_MIN).localCheckpoint(eager=True)
        groups = dedup.exact_dupes(good, id_col="doc_id", text_col="text")
        fp = good.withColumn("fingerprint", text_mod.fingerprint(F.col("text")))
        after_exact = (
            fp.join(groups.select("fingerprint", "canonical_id"), "fingerprint", "left")
            .filter(F.col("canonical_id").isNull() | (F.col("canonical_id") == F.col("doc_id")))
            .drop("fingerprint", "canonical_id")
        ).localCheckpoint(eager=True)
        pairs = dedup.minhash_lsh_dupes(after_exact, id_col="doc_id", text_col="text")
        comps = dedup.connected_components(pairs, id_col="doc_id")
        kept = after_exact.join(
            comps.filter(F.col("node") != F.col("component")).select(F.col("node").alias("doc_id")),
            "doc_id", "left_anti")
        split = sampling.hash_split(kept, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        packs = sampling.pack_sequences(split, PACK_BUDGET, group_col="source", order_col="doc_id")
        manifest = packs.collect()
        splits = split.groupBy("split").count().collect()
        simpairs = dedup.simhash_dupes(after_exact, id_col="doc_id", text_col="text")
        sim = [(r.a_id, r.b_id) for r in simpairs.select("a_id", "b_id").collect()]
        good_ids = {r.doc_id for r in good.select("doc_id").collect()}
        kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
        return after_exact, (good_ids, kept_ids, manifest, splits, sim)

    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        docs = gen.make_docs(run.seed, run.size["docs"])
        df = stage(docs, f"docs{rep}")
        df.write.format("noop").mode("overwrite").save()
        setups.append(time.perf_counter() - t0)
    # one pass over a tenth of the documents, so that plan compilation,
    # JIT and Python-worker start are set-up cost: a cold pass takes about
    # twice a warm one and varies more
    t0 = time.perf_counter()
    one_pass(stage(docs, "warmup", len(docs.ids) // 10))
    setups = [s + time.perf_counter() - t0 for s in setups]
    run.digest = docs.digest()
    n_tokens = dict(zip(docs.ids, (len(t.split()) for t in docs.text)))
    base_of = docs.dup_of

    def check_pass(good_ids, kept_ids, manifest, splits, sim):
        removed = good_ids - kept_ids
        rec, prec = check.score_dedup(removed, base_of, good_ids)
        bad = None
        missed = [d for d in docs.exact if d in good_ids and base_of[d] in good_ids and d in kept_ids]
        if missed:
            bad = f"{len(missed)} planted exact copies kept (e.g. {missed[0]})"
        elif any(base_of[d] not in kept_ids for d in removed if d in base_of and base_of[d] in good_ids):
            bad = "a removed copy's base document was removed too"
        elif sum(r.n_docs for r in manifest) != len(kept_ids):
            bad = "packs do not cover the kept documents exactly once"
        elif sum(r.pack_tokens for r in manifest) != sum(n_tokens[d] for d in kept_ids):
            bad = "pack token totals differ from the kept documents'"
        elif sum(r["count"] for r in splits) != len(kept_ids):
            bad = "split row counts differ from the kept documents'"
        run.verdict("curate_pass", bad)
        return rec, prec, len(sim), check.pair_precision({tuple(sorted(p)) for p in sim}, base_of)

    phases = {}
    for phase, deadline in run.halves():
        lat, recs, precs, sims = [], [], [], []
        while True:
            with run.span("curate.pass"):
                (near_dup_input, out), dt = _timed(lambda: one_pass(df))
            run.force()
            lat.append(dt)
            r, p, n_sim, sim_prec = check_pass(*out)
            recs.append(r)
            precs.append(p)
            sims.append((n_sim, sim_prec))
            if time.perf_counter() >= deadline:
                break
        phases[phase] = {
            "p50_s": median(lat),
            "items_per_s": len(docs.ids) * len(lat) / sum(lat),
            "recall": float(np.mean(recs)),
            "_prec": float(np.mean(precs)), "_sims": sims, "_lat": lat,
        }
    base = phases.get("all") or phases["untraced"]
    run.report.update({
        "docs_per_s": base["items_per_s"],
        "pass_p50_s": base["p50_s"], "passes": len(base["_lat"]),
        "dedup_recall": base["recall"],
        "dedup_precision": base["_prec"],
        "simhash_pairs": base["_sims"][0][0],
        "simhash_pair_precision": base["_sims"][0][1],
        "planted_pairs": len(base_of),
    })
    if run.tracer is not None:
        tr = run.tracer
        tr.time_noop("functions.text.quality_score", df.select(text_mod.quality_score_batch()(F.col("text"))))
        run.layer["functions.text.quality_score_s"] = median(tr.forced["functions.text.quality_score"])
        for t in ("exact_dupes", "minhash_lsh_dupes", "simhash_dupes", "connected_components"):
            run.layer[f"operators.dedup.{t}_s"] = tr.operator_s(f"operators.dedup.{t}")
        for t in ("hash_split", "pack_sequences"):
            run.layer[f"operators.sampling.{t}_s"] = tr.operator_s(f"operators.sampling.{t}")
        run.layer.update(_band_stats(near_dup_input, base_of))
    return _finish(run, phases, setups)


def _band_stats(docs, planted: dict) -> dict:
    """Candidate work of the two near-dup operators on their input: the
    sum of squared band-bucket sizes over their signature bands (the
    bands of minhash_lsh_dupes' and simhash_dupes' defaults: 8 bands of
    4 of 32 MinHash values, 4 bands of 16 SimHash bits), the pairs they
    output, and the share of output pairs that are planted families."""
    out = {}
    sigs = dedup.minhash_signatures(docs, 32, "doc_id", "text", 3)
    rows = 32 // 8
    mh = sigs.select(F.posexplode(F.array(*[
        F.hash(F.slice("sig", i * rows + 1, rows)) for i in range(8)])).alias("band", "key"))
    sh = dedup.simhash_signatures(docs, "doc_id", "text").select(F.posexplode(F.array(*[
        F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)
    ])).alias("band", "key"))
    for name, banded, pairs in (
        ("minhash", mh, dedup.minhash_lsh_dupes(docs, id_col="doc_id", text_col="text")),
        ("simhash", sh, dedup.simhash_dupes(docs, id_col="doc_id", text_col="text")),
    ):
        sq = banded.groupBy("band", "key").count().select(
            F.sum(F.col("count") * F.col("count")).alias("s")).first().s
        got = {tuple(sorted((r.a_id, r.b_id))) for r in pairs.select("a_id", "b_id").collect()}
        out[f"operators.dedup.{name}.candidate_pairs"] = float(sq)
        out[f"operators.dedup.{name}.pairs_out"] = float(len(got))
        out[f"operators.dedup.{name}.pair_precision"] = check.pair_precision(got, planted)
    return out


# ================================================================ shared


def _finish(run: Run, phases: dict, setups: list[float]) -> dict:
    """End-to-end metrics of the run (untraced half when traced), plus
    the tracing overhead per metric when traced."""
    base = phases.get("all") or phases["untraced"]
    run.layer["session.start_s"] = run.session_start_s
    e2e = {
        "setup_s": run.session_start_s + median(setups),
        "p50_s": base["p50_s"],
        "items_per_s": base["items_per_s"],
        "recall": base["recall"],
    }
    if "traced" in phases:
        for m in ("p50_s", "items_per_s", "recall"):
            run.layer[f"trace_overhead.{m}"] = phases["traced"][m] - base[m]
    run.report["setup_reps_s"] = setups
    return e2e


WORKLOADS = {
    "search_serve": search_serve,
    "ingest_churn": ingest_churn,
    "curate_dedup": curate_dedup,
}
