"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The check tests need no Spark. The run tests start the benchmark as a
subprocess at the tiny input size (about a minute each) and read its
last output line; two of them run it against a deliberately broken
engine call and expect the answer checks to count the failures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import gen  # noqa: E402


# ---------------------------------------------------------------- inputs


def test_generators_are_seeded():
    a, b = gen.make_corpus(7, 300), gen.make_corpus(7, 300)
    assert a.digest() == b.digest()
    assert gen.make_corpus(8, 300).digest() != a.digest()
    assert gen.make_docs(7, 200).digest() == gen.make_docs(7, 200).digest()


def test_churn_stream_names_only_live_ids():
    corpus = gen.make_corpus(3, 200)
    live = set(corpus.ids)
    for cyc in gen.make_churn(corpus, 3, 6, 10, 5, 4):
        live |= {a[0] for a in cyc.adds}
        assert {i for i, _ in cyc.updates} <= live
        assert set(cyc.deletes) <= live
        assert not {i for i, _ in cyc.updates} & set(cyc.deletes)
        live -= set(cyc.deletes)


def test_planted_duplicates():
    docs = gen.make_docs(5, 500)
    text = dict(zip(docs.ids, docs.text))
    assert len(docs.dup_of) == 100 and len(docs.exact) == 50
    for d, b in docs.dup_of.items():
        assert b < d
        same = text[d] == text[b]
        assert same == (d in docs.exact)
        if not same:
            diff = [x != y for x, y in zip(text[d].split(), text[b].split())]
            assert sum(diff) == 1


def test_hashed_embedding_uses_the_engine_embedders_defaults():
    # gen.hashed_embedding mirrors functions.embedding.hashed_embedding_udf
    # at its defaults; the tiny ingest_churn run checks the values (every
    # text-only chunk's true score comes from the mirror)
    from local_vectordb_spark.functions import embedding

    assert embedding.hashed_embedding_udf.__defaults__ == (gen.DIM, gen.EMBED_SEED)
    v = gen.hashed_embedding("t1w2 t1w3 new7")
    assert v.dtype == np.float32 and abs(float(np.linalg.norm(v)) - 1) < 1e-6


# ---------------------------------------------------------------- checks


def _exact():
    corpus = gen.make_corpus(1, 400)
    q = gen.make_queries(corpus, 1, 1)[0][0]
    ex = check.Exact(corpus.ids, corpus.emb)
    ids, scores, s = ex.topk(q, 10)
    return ex, q, ids, scores, s


def test_exact_answer_passes():
    ex, q, ids, scores, s = _exact()
    got = list(zip(ids, scores))
    assert check.check_exact(got, ids, scores, ex.true_of(s, got)) is None
    assert check.check_ranked(got, ex.true_of(s, got), 10) is None


def test_swapped_topk_id_is_caught():
    ex, q, ids, scores, s = _exact()
    outsider = next(i for i in ex.ids if i not in ids)
    got = list(zip(ids, scores))
    got[3] = (outsider, got[3][1])  # right score, wrong id
    assert check.check_exact(got, ids, scores, ex.true_of(s, got))
    assert check.check_ranked(got, ex.true_of(s, got), 10)


def test_reordered_or_short_answer_is_caught():
    ex, q, ids, scores, s = _exact()
    got = list(zip(ids, scores))
    swapped = [got[1], got[0], *got[2:]]
    assert check.check_ranked(swapped, ex.true_of(s, swapped), 10)
    assert check.check_exact(got[:9], ids, scores, ex.true_of(s, got))
    assert check.check_ranked(got + [got[0]], ex.true_of(s, got), 11)


def test_missed_neighbour_lowers_recall_but_is_valid():
    ex, q, ids, scores, s = _exact()
    nxt = sorted((i for i in ex.ids if i not in ids), key=lambda i: -s[ex.pos[i]])[0]
    got = list(zip(ids[:9], scores[:9])) + [(nxt, float(s[ex.pos[nxt]]))]
    assert check.check_ranked(got, ex.true_of(s, got), 10) is None
    assert check.check_exact(got, ids, scores, ex.true_of(s, got))
    assert check.recall([g[0] for g in got], ids) == 0.9


def test_dropped_change_feed_row_is_caught():
    exp = {"a": ("upsert", "x"), "b": ("upsert", "y"), "c": ("remove", None)}
    feed = [("upsert", "a", "x"), ("upsert", "b", "y"), ("remove", "c", "old")]
    assert check.check_changes(feed, exp) is None
    assert check.check_changes(feed[:2], exp)
    assert check.check_changes([("upsert", "a", "x"), ("upsert", "b", "stale"), feed[2]], exp)
    assert check.check_changes([("upsert", "a", "x"), feed[1], ("upsert", "c", "old")], exp)
    assert check.check_changes(feed + [feed[0]], exp)


def test_store_model_tracks_the_stream():
    corpus = gen.make_corpus(2, 50)
    m = check.StoreModel(corpus.ids, corpus.text, corpus.emb, corpus.label)
    e = gen.hashed_embedding("new row")
    m.upsert([("n1", "new row", e, "l0")])
    m.delete([corpus.ids[0]])
    ex = m.exact()
    assert "n1" in ex.pos and corpus.ids[0] not in ex.pos
    assert set(m.exact("l0").ids) == {i for i, r in m.rows.items() if r[2] == "l0"}


def test_dedup_scoring():
    planted = {"d2": "d1", "d4": "d3", "d6": "d5"}
    kept_input = {"d1", "d2", "d3", "d4", "d5", "d7"}  # d6 filtered out upstream
    rec, prec = check.score_dedup({"d2", "d7"}, planted, kept_input)
    assert rec == 0.5 and prec == 0.5
    assert check.pair_precision({("d1", "d2"), ("d1", "d3")}, planted) == 0.5


# ---------------------------------------------------------------- runs


def _run(tmp_path, workload: str, patch: str = "", seconds: int = 2, trace: int = 0) -> dict:
    script = tmp_path / "bench.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path[:0] = [{ROOT!r}, {HERE!r}]
        from pyspark.sql import functions as F
        from local_vectordb_spark import api
        {patch}
        import run
        sys.exit(run.main(["--workload", {workload!r}, "--seed", "3", "--seconds",
                           "{seconds}", "--size", "tiny", "--trace", "{trace}"]))
    """))
    p = subprocess.run([sys.executable, str(script)], cwd=tmp_path, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not (tmp_path / ".perfbench_work").exists()
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["search_serve", "ingest_churn", "curate_dedup"])
def test_tiny_run_is_correct(tmp_path, workload):
    r = _run(tmp_path, workload)
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] > 0
    assert set(r["metrics"]) == set(_benchmark_names("end_to_end"))
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric(tmp_path):
    r = _run(tmp_path, "curate_dedup", trace=1)
    assert r["correct"] is True
    assert set(r["metrics"]) == set(_benchmark_names("per_layer"))
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["operators.dedup.minhash_lsh_dupes_s"] > 0 and m["functions.text.quality_score_s"] > 0
    assert m["api.table_changes_s"] == 0  # the store is idle in curate_dedup
    spans = json.loads((tmp_path / ".perfbench_spans.json").read_text())
    assert any(s["name"] == "operators.dedup.connected_components" and s["jobs"] > 0
               for s in spans["spans"])


def test_corrupted_search_answer_is_counted(tmp_path):
    # every search returns ranks 2..k+1: the exact check sees shifted scores
    r = _run(tmp_path, "search_serve", patch=textwrap.dedent("""
        orig = api.VectorDB.search
        def shifted(self, *a, **kw):
            kw["k"] += 1
            return orig(self, *a, **kw).orderBy(F.desc("score"), "id").offset(1)
        api.VectorDB.search = shifted
    """).replace("\n", "\n        "))
    assert r["correct"] is False and r["failed"] > 0


def test_dropped_change_feed_row_is_counted(tmp_path):
    r = _run(tmp_path, "ingest_churn", patch=textwrap.dedent("""
        orig = api.VectorDB.table_changes
        def lossy(self, *a, **kw):
            return orig(self, *a, **kw).filter(F.col("change_type") != "remove")
        api.VectorDB.table_changes = lossy
    """).replace("\n", "\n        "))
    assert r["correct"] is False and r["failed"] > 0


def _benchmark_names(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


def test_benchmark_json_matches_the_metric_tables():
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == workloads.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
