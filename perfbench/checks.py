"""Output checks, computed apart from the program under test.

Each checker reads the program's output files and recomputes the
expected result independently: with DuckDB over the generated inputs,
with Python's ``difflib`` and a union-find, or from the truth the
generator planted. A checker returns a list of failure messages; an
empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb

import gen


def _csv(path: str) -> str:
    """DuckDB reader for the counterparty CSVs. Empty fields, quoted or
    not, read as NULL, as Spark's CSV reader reads them by default."""
    return (f"read_csv('{path}', header=true, "
            "columns={'id': 'BIGINT', 'name': 'VARCHAR', 'iban': 'VARCHAR'})")


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


# ---------------------------------------------------------------------------
# counterparty_etl
# ---------------------------------------------------------------------------


def check_etl(input_csv: str, out_dir: str) -> list[str]:
    """The single-file CSV the ETL's load step wrote must hold exactly the
    input's distinct ``(name, iban)`` keys, once each, with unique
    non-null ids (the reference's ``solutionFour.py`` before/after count,
    made exact)."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if len(parts) != 1:
        return [f"etl: expected one CSV part, found {len(parts)}"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM {_csv(input_csv)}")
    con.execute(
        f"CREATE VIEW out AS SELECT * FROM read_csv('{parts[0]}', "
        "header=true, all_varchar=true)")
    cols = [r[0] for r in con.execute("DESCRIBE out").fetchall()]
    id_cols = [c for c in cols if c.lower() == "id"]
    if sorted(c.lower() for c in cols) != ["iban", "id", "name"] \
            or len(id_cols) != 1:
        return [f"etl: unexpected output columns {cols}"]
    idc = id_cols[0]
    failures = []
    (n_keys,) = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT name, iban FROM src)"
    ).fetchone()
    n_out, n_out_keys, n_ids, n_distinct_ids = con.execute(
        f'SELECT count(*), count(DISTINCT (name, iban)), count("{idc}"), '
        f'count(DISTINCT "{idc}") FROM out').fetchone()
    if n_out != n_keys:
        failures.append(f"etl: {n_out} output rows, {n_keys} distinct keys")
    if n_out_keys != n_out:
        failures.append(f"etl: {n_out - n_out_keys} duplicate keys kept")
    (missing,) = con.execute(
        "SELECT count(*) FROM (SELECT name, iban FROM src "
        "EXCEPT SELECT name, iban FROM out)").fetchone()
    (extra,) = con.execute(
        "SELECT count(*) FROM (SELECT name, iban FROM out "
        "EXCEPT SELECT name, iban FROM src)").fetchone()
    if missing or extra:
        failures.append(f"etl: key sets differ ({missing} missing, "
                        f"{extra} not in the input)")
    if n_ids != n_out or n_distinct_ids != n_out:
        failures.append(f"etl: ids not unique and non-null ({n_ids} non-null,"
                        f" {n_distinct_ids} distinct, {n_out} rows)")
    return failures


# ---------------------------------------------------------------------------
# counterparty_linkage
# ---------------------------------------------------------------------------

_DEDUP_SQL = "SELECT min(id) AS id, name, iban FROM src GROUP BY name, iban"

# Blocked 3-gram Jaccard pairs over the deduplicated rows, in the spelling
# of the catalog's ``_FUZZY_BLOCKED_ORACLE``.
_PAIRS_SQL = f"""
WITH keyed AS (
  SELECT id, name AS txt,
         substr(lower(trim(name)), 1, {gen.BLOCK_LEN}) AS block,
         list_distinct(list_transform(
           range(1, greatest(len(name) - 2, 1) + 1),
           i -> substr(name, i, 3))) AS grams
  FROM dedup
)
SELECT a.id AS id_a, b.id AS id_b, a.txt AS text_a, b.txt AS text_b
FROM keyed a JOIN keyed b ON a.block = b.block AND a.id < b.id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
      >= {gen.JACCARD_T}
"""


def linkage_oracle(input_csv: str) -> tuple[list[frozenset], dict, int]:
    """(partition of the deduplicated ids, rows by id, distinct key count)
    from DuckDB blocking and Jaccard, ``difflib`` rescoring in Python and
    a union-find."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM {_csv(input_csv)}")
    con.execute(f"CREATE TABLE dedup AS {_DEDUP_SQL}")
    rows = {i: (name, iban) for i, name, iban in
            con.execute("SELECT id, name, iban FROM dedup").fetchall()}
    (n_keys,) = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT name, iban FROM src)"
    ).fetchone()
    parent = {i: i for i in rows}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, ta, tb in con.execute(_PAIRS_SQL).fetchall():
        if gen.difflib_score(ta, tb) >= gen.DIFFLIB_T:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, set] = {}
    for i in rows:
        comps.setdefault(find(i), set()).add(i)
    return [frozenset(c) for c in comps.values()], rows, n_keys


def check_linkage(input_csv: str, out_dir: str) -> list[str]:
    """Cluster output ``(component, cluster_size, ids, names, ibans)`` must
    partition the deduplicated rows exactly as the oracle does, label each
    cluster with its min id, carry its members' names and IBANs, and its
    sizes must add up to the distinct key count."""
    partition, rows, n_keys = linkage_oracle(input_csv)
    out = duckdb.sql(
        f"SELECT component, cluster_size, ids, names, ibans "
        f"FROM {_parquet(out_dir)}").fetchall()
    failures = []
    total = sum(r[1] for r in out)
    if total != n_keys:
        failures.append(f"linkage: cluster sizes sum to {total}, "
                        f"{n_keys} distinct keys")
    got = [frozenset(r[2]) for r in out]
    if sorted(map(sorted, got)) != sorted(map(sorted, partition)):
        want = set(partition)
        have = set(got)
        failures.append(
            f"linkage: {len(have - want)} clusters differ from the oracle "
            f"({len(want - have)} oracle clusters not reproduced)")
    for comp, size, ids, names, ibans in out:
        if size != len(ids) or comp != min(ids):
            failures.append(f"linkage: cluster {comp} has size {size}, "
                            f"label {comp}, members {sorted(ids)[:5]}")
            break
        members = [rows.get(i) for i in ids]
        if None in members:
            failures.append(f"linkage: cluster {comp} holds unknown ids")
            break
        want_names = {m[0] for m in members if m[0] is not None}
        want_ibans = {m[1] for m in members if m[1] is not None}
        if sorted(names) != sorted(want_names) \
                or sorted(ibans) != sorted(want_ibans):
            failures.append(f"linkage: cluster {comp} names or IBANs differ "
                            "from its members'")
            break
    return failures


# ---------------------------------------------------------------------------
# corpus_near_dup
# ---------------------------------------------------------------------------


def _doc_truth(truth: dict) -> tuple[dict, set]:
    """Planted truth for the minhash queries: kept count per language for
    the full dedup, and the kept batch ids for the incremental one
    (corpus = even ids, batch = odd ids)."""
    kept_per_lang: dict[str, int] = {}
    incremental: set[int] = set()
    for g in truth["doc_groups"]:
        lang = truth["doc_lang"][g[0]]
        kept_per_lang[lang] = kept_per_lang.get(lang, 0) + 1
        odd = [i for i in g if i % 2 == 1]
        if odd and len(odd) == len(g):
            incremental.add(min(odd))
    return kept_per_lang, incremental


def check_corpus_dedup(sf_dir: str, out_dir: str, truth: dict) -> list[str]:
    """Per-language ``n_raw`` equals DuckDB's count; ``n_kept`` equals the
    number of planted groups (singletons included) of that language."""
    raw = dict(duckdb.sql(
        "SELECT lang, count(*) FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}') "
        "GROUP BY lang").fetchall())
    kept, _ = _doc_truth(truth)
    out = duckdb.sql(
        f"SELECT lang, n_raw, n_kept FROM {_parquet(out_dir)}").fetchall()
    got_raw = {r[0]: r[1] for r in out}
    got_kept = {r[0]: r[2] for r in out}
    failures = []
    if len(out) != len(got_raw):
        failures.append("corpus_dedup_pipeline: a language appears twice")
    if got_raw != raw:
        failures.append(f"corpus_dedup_pipeline: n_raw {got_raw} != {raw}")
    if got_kept != kept:
        failures.append(f"corpus_dedup_pipeline: n_kept {got_kept} != {kept}")
    return failures


def check_incremental_minhash(out_dir: str, truth: dict) -> list[str]:
    """A batch group touching an even-id corpus doc keeps nothing; any
    other batch group keeps exactly its min odd id."""
    _, want = _doc_truth(truth)
    got = [r[0] for r in
           duckdb.sql(f"SELECT doc_id FROM {_parquet(out_dir)}").fetchall()]
    failures = []
    if len(got) != len(set(got)):
        failures.append("incremental_minhash_docs: a doc_id appears twice")
    if set(got) != want:
        failures.append(
            f"incremental_minhash_docs: {len(set(got) - want)} unexpected "
            f"kept, {len(want - set(got))} expected missing")
    return failures


def check_semantic_dedup(out_dir: str, truth: dict) -> list[str]:
    """SemDeDup pairs only within learned cells, so near copies split
    across cells may stay apart. Checked are the bounds it guarantees:
    every id once; each component labelled by its min id, which alone is
    kept; no component spans two planted groups (unrelated vectors sit
    below the cosine threshold); byte-identical copies share a component
    (the exact-clone collapse runs before the cells)."""
    group_of = {i: gi for gi, g in enumerate(truth["vec_groups"]) for i in g}
    out = duckdb.sql(
        f"SELECT vec_id, component, keep FROM {_parquet(out_dir)}").fetchall()
    failures = []
    ids = [r[0] for r in out]
    if len(ids) != len(set(ids)) or set(ids) != set(group_of):
        failures.append("semantic_dedup_embeddings: ids differ from the input")
        return failures
    members: dict[int, list[int]] = {}
    for vid, comp, keep in out:
        members.setdefault(comp, []).append(vid)
        if bool(keep) != (vid == comp):
            failures.append(f"semantic_dedup_embeddings: keep flag wrong "
                            f"on {vid}")
            break
    comp_of = {vid: comp for vid, comp, _ in out}
    for comp, m in members.items():
        if comp != min(m):
            failures.append(f"semantic_dedup_embeddings: component {comp} "
                            f"is not its min id {min(m)}")
            break
        if len({group_of[i] for i in m}) > 1:
            failures.append(f"semantic_dedup_embeddings: component {comp} "
                            "merges unrelated vectors")
            break
    for c in truth["vec_exact"]:
        if len({comp_of[i] for i in c}) > 1:
            failures.append(f"semantic_dedup_embeddings: copies {c} "
                            "kept apart")
            break
    return failures


def check_incremental_semantic(out_dir: str, truth: dict) -> list[str]:
    """Batch = ids divisible by 4, corpus = the rest. Guaranteed bounds:
    only batch rows survive; a batch row with a byte-identical corpus
    copy is dropped; at most one of a set of byte-identical batch rows
    survives; a group with no corpus member keeps its min batch id;
    batch singletons are kept."""
    got = [r[0] for r in duckdb.sql(
        f"SELECT vec_id FROM {_parquet(out_dir)}").fetchall()]
    kept = set(got)
    failures = []
    if len(got) != len(kept):
        failures.append("incremental_semantic: a vec_id appears twice")
    if any(i % 4 != 0 for i in kept):
        failures.append("incremental_semantic: a corpus row was returned")
    for c in truth["vec_exact"]:
        batch = [i for i in c if i % 4 == 0]
        if len(batch) < len(c) and kept & set(batch):
            failures.append(f"incremental_semantic: copies {batch} of a "
                            "corpus row kept")
            break
        if len(kept & set(batch)) > 1:
            failures.append(f"incremental_semantic: copies {batch} all kept")
            break
    for g in truth["vec_groups"]:
        batch = [i for i in g if i % 4 == 0]
        if batch and len(batch) == len(g) and min(batch) not in kept:
            failures.append(f"incremental_semantic: group {g} lost its "
                            f"min batch id")
            break
    return failures


def check_corpus(sf_dir: str, outputs: dict[str, str],
                 truth: dict) -> list[str]:
    return (check_corpus_dedup(sf_dir, outputs["corpus_dedup_pipeline"], truth)
            + check_incremental_minhash(outputs["incremental_minhash_docs"],
                                        truth)
            + check_semantic_dedup(outputs["semantic_dedup_embeddings"], truth)
            + check_incremental_semantic(
                outputs["incremental_semantic_dedup_embeddings"], truth))
