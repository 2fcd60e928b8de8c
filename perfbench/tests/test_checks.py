"""Tests of the benchmark's own checks and generators.

Each checker must accept a correct output and reject every planted
corruption. Correct outputs are built from the checkers' own oracles or
the generator's truth, so these tests need no Spark session; the smoke
tests at the end run each workload end to end at a tiny scale.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv  # noqa: F401  (pa.csv)
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans as spans_mod  # noqa: E402
import workloads  # noqa: E402


# ---------------------------------------------------------------------------
# counterparty_etl
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def etl_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("etl_in")
    return gen.counterparty_etl(str(d), np.random.default_rng(3), 2000)["path"]


def _etl_rows(path):
    return duckdb.sql(
        f"SELECT row_number() OVER () AS ID, name, iban FROM "
        f"(SELECT DISTINCT name, iban FROM {checks._csv(path)})").fetchall()


def _write_etl(out_dir, rows, parts=1):
    os.makedirs(out_dir, exist_ok=True)
    chunks = [rows[i::parts] for i in range(parts)]
    for i, chunk in enumerate(chunks):
        t = pa.table({"ID": [r[0] for r in chunk],
                      "name": [r[1] for r in chunk],
                      "iban": [r[2] for r in chunk]})
        pa.csv.write_csv(t, os.path.join(out_dir, f"part-{i:05d}.csv"))
    return out_dir


def test_etl_input_has_duplicates_and_string_ibans(etl_input):
    n, keys, alpha = duckdb.sql(
        f"SELECT count(*), count(DISTINCT (name, iban)), "
        f"bool_and(regexp_matches(iban, '^[A-Z]{{2}}[0-9]{{18}}$')) "
        f"FROM {checks._csv(etl_input)}").fetchone()
    assert 0.2 < 1 - keys / n < 0.3
    assert alpha


def test_etl_accepts_correct_output(etl_input, tmp_path):
    out = _write_etl(str(tmp_path / "out"), _etl_rows(etl_input))
    assert checks.check_etl(etl_input, out) == []


@pytest.mark.parametrize("corruption", ["dropped_row", "kept_duplicate",
                                        "duplicate_id", "two_parts"])
def test_etl_rejects(etl_input, tmp_path, corruption):
    rows = _etl_rows(etl_input)
    parts = 1
    if corruption == "dropped_row":
        rows = rows[1:]
    elif corruption == "kept_duplicate":
        rows = rows + [(len(rows) + 1, rows[0][1], rows[0][2])]
    elif corruption == "duplicate_id":
        rows = [(rows[1][0],) + rows[0][1:]] + rows[1:]
    else:
        parts = 2
    out = _write_etl(str(tmp_path / "out"), rows, parts)
    assert checks.check_etl(etl_input, out)


# ---------------------------------------------------------------------------
# counterparty_linkage
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def linkage_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("link_in")
    return gen.counterparty_linkage(str(d), np.random.default_rng(5),
                                    n_background=1500, n_heads=200,
                                    n_pairs=20, n_chains=20)


def _write_clusters(out_dir, partition, rows):
    os.makedirs(out_dir, exist_ok=True)
    recs = []
    for c in partition:
        ids = sorted(c)
        names = {rows[i][0] for i in ids} - {None}
        ibans = {rows[i][1] for i in ids} - {None}
        recs.append({"component": ids[0], "cluster_size": len(ids),
                     "ids": ids, "names": sorted(names),
                     "ibans": sorted(ibans)})
    pq.write_table(pa.Table.from_pylist(recs),
                   os.path.join(out_dir, "part-0.parquet"))
    return out_dir


def test_linkage_planted_groups_match_the_oracle(linkage_input):
    partition, rows, _ = checks.linkage_oracle(linkage_input["path"])
    cluster_of = {}
    for c in partition:
        for i in c:
            cluster_of[rows[i][0]] = c
    for g in linkage_input["groups"]:
        assert len({cluster_of[name] for name in g}) == 1, g
        if len(g) == 3:
            assert gen.linked(g[0], g[1]) and gen.linked(g[1], g[2])
            assert not gen.linked(g[0], g[2])


def test_linkage_accepts_correct_output(linkage_input, tmp_path):
    partition, rows, _ = checks.linkage_oracle(linkage_input["path"])
    out = _write_clusters(str(tmp_path / "out"), partition, rows)
    assert checks.check_linkage(linkage_input["path"], out) == []


@pytest.mark.parametrize("corruption", ["dropped_row", "split_cluster",
                                        "merged_cluster", "wrong_name"])
def test_linkage_rejects(linkage_input, tmp_path, corruption):
    partition, rows, _ = checks.linkage_oracle(linkage_input["path"])
    partition = sorted((sorted(c) for c in partition), key=len, reverse=True)
    big = partition[0]
    assert len(big) >= 2
    if corruption == "dropped_row":
        partition[0] = big[1:]
    elif corruption == "split_cluster":
        partition[0:1] = [big[:1], big[1:]]
    elif corruption == "merged_cluster":
        partition[0:2] = [big + partition[1]]
    else:
        rows = dict(rows)
        rows[big[0]] = ("Somebody Else Ltd", rows[big[0]][1])
    out = _write_clusters(str(tmp_path / "out"),
                          [frozenset(c) for c in partition], rows)
    assert checks.check_linkage(linkage_input["path"], out)


# ---------------------------------------------------------------------------
# corpus_near_dup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus_in")
    return gen.corpus(str(d), np.random.default_rng(7), 200, 160)


def _write(out_dir, recs):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(recs),
                   os.path.join(out_dir, "part-0.parquet"))
    return out_dir


def _correct_corpus(truth):
    """Outputs as the planted truth has them: one component per group."""
    raw, kept = {}, {}
    for g in truth["doc_groups"]:
        lang = truth["doc_lang"][g[0]]
        raw[lang] = raw.get(lang, 0) + len(g)
        kept[lang] = kept.get(lang, 0) + 1
    incremental = [{"doc_id": min(i for i in g)} for g in truth["doc_groups"]
                   if all(i % 2 for i in g)]
    semantic = [{"vec_id": i, "component": min(g), "keep": i == min(g)}
                for g in truth["vec_groups"] for i in g]
    inc_sem = [{"vec_id": min(g), "label": 0} for g in truth["vec_groups"]
               if all(i % 4 == 0 for i in g)]
    return {
        "corpus_dedup_pipeline": [{"lang": k, "n_raw": raw[k],
                                   "n_kept": kept[k]} for k in raw],
        "incremental_minhash_docs": incremental,
        "semantic_dedup_embeddings": semantic,
        "incremental_semantic_dedup_embeddings": inc_sem,
    }


def _check_corpus(tmp_path, truth, outputs):
    dirs = {q: _write(str(tmp_path / q), recs) for q, recs in outputs.items()}
    return checks.check_corpus(truth["sf_dir"], dirs, truth)


def test_corpus_groups_are_separated(corpus_input):
    texts = dict(duckdb.sql(
        "SELECT doc_id, text FROM read_parquet('"
        f"{corpus_input['sf_dir']}/documents.parquet')").fetchall())
    groups = [g for g in corpus_input["doc_groups"] if len(g) > 1]
    assert groups
    for g in groups:
        for a in g:
            for b in g:
                assert gen.shingle_jaccard(texts[a], texts[b]) >= 0.9
    a, b = groups[0][0], groups[1][0]
    assert gen.shingle_jaccard(texts[a], texts[b]) < 0.1
    assert any(len(c) > 1 for c in corpus_input["vec_exact"])


def test_corpus_accepts_correct_output(corpus_input, tmp_path):
    assert _check_corpus(tmp_path, corpus_input,
                         _correct_corpus(corpus_input)) == []


def _group(truth, key, pred):
    return next(g for g in truth[key] if pred(g))


def _corrupt(truth, outputs, corruption):
    if corruption == "minhash_surviving_near_dup":
        g = _group(truth, "doc_groups",
                   lambda g: len(g) > 1 and any(i % 2 for i in g)
                   and any(i % 2 == 0 for i in g))
        outputs["incremental_minhash_docs"].append(
            {"doc_id": next(i for i in g if i % 2)})
    elif corruption == "minhash_dropped_row":
        outputs["incremental_minhash_docs"].pop()
    elif corruption == "pipeline_kept_duplicate":
        outputs["corpus_dedup_pipeline"][0]["n_kept"] += 1
    elif corruption == "pipeline_wrong_raw":
        outputs["corpus_dedup_pipeline"][0]["n_raw"] -= 1
    elif corruption == "semantic_dropped_row":
        outputs["semantic_dedup_embeddings"].pop()
    elif corruption == "semantic_merged_cluster":
        a = _group(truth, "vec_groups", lambda g: len(g) > 1)
        b = _group(truth, "vec_groups", lambda g: g != a)
        top = min(a + b)
        for r in outputs["semantic_dedup_embeddings"]:
            if r["vec_id"] in a + b:
                r["component"], r["keep"] = top, r["vec_id"] == top
    elif corruption == "semantic_split_copies":
        c = next(c for c in truth["vec_exact"] if len(c) > 1)
        for r in outputs["semantic_dedup_embeddings"]:
            if r["vec_id"] == max(c):
                r["component"], r["keep"] = r["vec_id"], True
    elif corruption == "incremental_semantic_kept_copy":
        c = next(c for c in truth["vec_exact"]
                 if any(i % 4 == 0 for i in c) and any(i % 4 for i in c))
        outputs["incremental_semantic_dedup_embeddings"].append(
            {"vec_id": next(i for i in c if i % 4 == 0), "label": 0})
    elif corruption == "incremental_semantic_dropped_row":
        outputs["incremental_semantic_dedup_embeddings"].pop()
    return outputs


@pytest.mark.parametrize("corruption", [
    "minhash_surviving_near_dup", "minhash_dropped_row",
    "pipeline_kept_duplicate", "pipeline_wrong_raw", "semantic_dropped_row",
    "semantic_merged_cluster", "semantic_split_copies",
    "incremental_semantic_kept_copy", "incremental_semantic_dropped_row"])
def test_corpus_rejects(corpus_input, tmp_path, corruption):
    outputs = _corrupt(corpus_input, _correct_corpus(corpus_input), corruption)
    assert _check_corpus(tmp_path, corpus_input, outputs)


# ---------------------------------------------------------------------------
# generators, spec, end-to-end smoke
# ---------------------------------------------------------------------------


def test_generators_are_seeded(tmp_path):
    paths = []
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        gen.corpus(str(tmp_path / d), np.random.default_rng(11), 60, 50)
        paths.append(tmp_path / d / "embeddings.parquet")
    assert paths[0].read_bytes() == paths[1].read_bytes()


def test_benchmark_json_names_every_span_quantity():
    """The per-layer list in BENCHMARK.json covers each traced span with
    every quantity the tracer reports, and the runner's workloads."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    spans = [t[2] for t in run.TRACED] + [
        f"query.{q}" for q in workloads.CORPUS_QUERIES]
    span_metrics = {f"{s}.{q}": u for s in spans
                    for q, u in spans_mod.QUANTITIES.items()}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert span_metrics.items() <= per_layer.items()
    assert set(per_layer) - set(span_metrics) == {
        "session.get_spark.wall_s", "linkage.candidate_pairs",
        "linkage.edges_per_candidate", "session.peak_rss_mb"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert list(workloads.BY_NAME) == list(run.WORKLOADS)
    assert len(spec["per_layer"]) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.-]{0,63}", n)
               for n in names), [n for n in names if len(n) > 64]


def _bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [
    ("counterparty_etl", "0"), ("counterparty_linkage", "1"),
    ("corpus_near_dup", "0")])
def test_smoke(workload, trace):
    p = _bench("--workload", workload, "--seed", "1", "--seconds", "0.1",
               "--trace", trace, "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 3
    units = run.metric_units(
        ROOT, "per_layer" if trace == "1" else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if trace == "1":
        m = result["metrics"]
        assert m["linkage.blocked_similarity_join.jobs"]["value"] > 0
        assert m["linkage.transitive_clusters.jobs"]["value"] > 0
        assert m["linkage.edges_per_candidate"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    p = _bench("--workload", "counterparty_etl", "--seed", "1", "--seconds",
               "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
