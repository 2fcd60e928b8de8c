"""Seeded input generators, one per workload.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain input files (CSV or parquet) into a directory;
the same seed always yields the same files. Generators also return the
planted truth that the output checks in ``checks.py`` compare against.
"""

from __future__ import annotations

import difflib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

COUNTRIES = ["DE", "FR", "NL", "ES", "IT", "GB", "BE", "AT", "CH", "PL"]
SUFFIXES = ["GmbH", "AG", "Ltd", "LLC", "SA", "BV", "Inc", "PLC", "SRL", "Co"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]

_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


def pseudo_words(rng: np.random.Generator, n: int, syllables: tuple[int, int],
                 capitalize: bool = False) -> list[str]:
    """``n`` distinct pronounceable words of consonant-vowel syllables."""
    out: list[str] = []
    seen: set[str] = set()
    lo, hi = syllables
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))]
                    + _VOWELS[int(rng.integers(len(_VOWELS)))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w.capitalize() if capitalize else w)
    return out


def _zipf_index(rng: np.random.Generator, n_items: int, size: int,
                a: float = 1.1) -> np.ndarray:
    """Indices in ``[0, n_items)`` with a Zipf-like skew (rank 0 commonest)."""
    w = 1.0 / np.arange(1, n_items + 1) ** a
    return rng.choice(n_items, size=size, p=w / w.sum())


def _ibans(rng: np.random.Generator, n: int) -> pa.Array:
    """IBAN-shaped strings: country code, 2 check digits, 16 digits."""
    def digits(width: int) -> pa.Array:
        v = pa.array(rng.integers(0, 10 ** width, n))
        return pc.utf8_lpad(pc.cast(v, pa.string()), width, "0")

    cc = pa.array(COUNTRIES).take(pa.array(rng.integers(0, len(COUNTRIES), n)))
    check = digits(2)
    hi = digits(8)
    return pc.binary_join_element_wise(cc, check, hi, digits(8), "")


# ---------------------------------------------------------------------------
# counterparty_etl
# ---------------------------------------------------------------------------


# Share of the ETL rows that repeat the (name, iban) key of another row.
ETL_DUP_SHARE = 0.25


def counterparty_etl(out_dir: str, rng: np.random.Generator,
                     n_rows: int) -> dict:
    """``id,name,iban`` CSV of ``n_rows`` rows, about ``ETL_DUP_SHARE`` of
    them exact ``(name, iban)`` repeats of another row (different ``id``), in
    random order. Names reuse a finite vocabulary, so one name often
    carries several IBANs; only the pair is a duplicate key."""
    n_keys = n_rows - int(n_rows * ETL_DUP_SHARE)
    first = pa.array(pseudo_words(rng, 400, (2, 3), capitalize=True))
    second = pa.array(pseudo_words(rng, 600, (2, 4), capitalize=True))
    suffix = pa.array(SUFFIXES)
    names = pc.binary_join_element_wise(
        first.take(pa.array(_zipf_index(rng, len(first), n_keys))),
        second.take(pa.array(rng.integers(0, len(second), n_keys))),
        suffix.take(pa.array(rng.integers(0, len(suffix), n_keys))),
        " ")
    ibans = _ibans(rng, n_keys)
    # every key appears once, the rest of the rows repeat random keys
    rows = np.concatenate([np.arange(n_keys),
                           rng.integers(0, n_keys, n_rows - n_keys)])
    rng.shuffle(rows)
    take = pa.array(rows)
    table = pa.table({
        "id": pa.array(np.arange(1, n_rows + 1, dtype=np.int64)),
        "name": names.take(take),
        "iban": ibans.take(take),
    })
    path = os.path.join(out_dir, "counterparties.csv")
    pacsv.write_csv(table, path)
    return {"path": path, "records": n_rows}


# ---------------------------------------------------------------------------
# counterparty_linkage
# ---------------------------------------------------------------------------

# Linkage settings of the workload; the generator plants links against them.
JACCARD_T = 0.5
DIFFLIB_T = 80.0
BLOCK_LEN = 4
NGRAM = 3
# Share of exact (name, iban) repeats added to the linkage rows.
LINKAGE_DUP_SHARE = 0.1


def grams3(s: str) -> set[str]:
    """Distinct character 3-grams, spelled like ``similarity.char_ngrams``:
    a string shorter than 3 yields itself."""
    n = max(len(s) - (NGRAM - 1), 1)
    return {s[i:i + NGRAM] for i in range(n)}


def jaccard3(a: str, b: str) -> float:
    ga, gb = grams3(a), grams3(b)
    return len(ga & gb) / len(ga | gb)


def difflib_score(a: str, b: str) -> float:
    return difflib.SequenceMatcher(None, a, b).ratio() * 100.0


def block_key(s: str) -> str:
    return s.strip().lower()[:BLOCK_LEN]


def linked(a: str, b: str) -> bool:
    """The workload's match rule: same prefix block, 3-gram Jaccard and
    difflib ratio both at or above their thresholds."""
    return (block_key(a) == block_key(b) and jaccard3(a, b) >= JACCARD_T
            and difflib_score(a, b) >= DIFFLIB_T)


def _edit(rng: np.random.Generator, s: str, lo: int, hi: int) -> str:
    """One substitution, insertion or deletion of a lowercase letter at a
    position in ``[lo, hi)``."""
    p = int(rng.integers(lo, hi))
    c = _VOWELS[int(rng.integers(len(_VOWELS)))] if s[p] in _CONS \
        else _CONS[int(rng.integers(len(_CONS)))]
    kind = int(rng.integers(3))
    if kind == 0:
        return s[:p] + c + s[p + 1:]
    if kind == 1:
        return s[:p] + c + s[p:]
    return s[:p] + s[p + 1:]


def _planted_group(rng: np.random.Generator, head: str, root: str,
                   chain: bool) -> list[str]:
    """Names of one planted near-duplicate group. A pair is ``[A, B]``
    with A~B; a chain is ``[A, B, C]`` with A~B, B~C and A≁C. Edits stay
    in ``root`` (after the block prefix), so members share a block."""
    suffix = SUFFIXES[int(rng.integers(len(SUFFIXES)))]
    a = f"{head} {root} {suffix}"
    lo = len(head) + 1
    mid = lo + len(root) // 2
    for _ in range(1000):
        if not chain:
            b = _edit(rng, a, lo, lo + len(root))
            if b != a and linked(a, b):
                return [a, b]
            continue
        b = _edit(rng, _edit(rng, a, lo, mid), lo, mid)
        c = _edit(rng, _edit(rng, b, mid, lo + len(root)), mid,
                  lo + len(root))
        if len({a, b, c}) == 3 and linked(a, b) and linked(b, c) \
                and not linked(a, c):
            return [a, b, c]
    raise RuntimeError(f"could not plant a group on {a!r}")


def counterparty_linkage(out_dir: str, rng: np.random.Generator,
                         n_background: int, n_heads: int, n_pairs: int,
                         n_chains: int) -> dict:
    """``id,name,iban`` CSV for the fuzzy-linkage pipeline.

    - background names ``<head> <word> <suffix>``: ``n_heads`` four-letter
      heads, Zipf-skewed, so prefix blocks range from one row to a few
      hundred;
    - ``n_pairs`` planted pairs (A~B) and ``n_chains`` transitive chains
      (A~B, B~C, A≁C), each on its own group root word, so no two groups
      share vocabulary;
    - ``LINKAGE_DUP_SHARE`` of the rows are exact ``(name, iban)`` repeats;
    - about 2 % empty-string and 2 % null IBANs, and a few null names
      (which no blocking key can match).
    Returns the path, the record count and the planted groups (lists of
    names)."""
    heads = pseudo_words(rng, n_heads, (2, 2), capitalize=True)
    words = pseudo_words(rng, 20000, (2, 4))
    roots = pseudo_words(rng, n_pairs + n_chains, (4, 5))
    roots_set = set(roots)
    words = [w for w in words if w not in roots_set]
    names: list[str | None] = []
    head_idx = _zipf_index(rng, len(heads), n_background, a=0.5)
    word_idx = rng.integers(0, len(words), n_background)
    suf_idx = rng.integers(0, len(SUFFIXES), n_background)
    for h, w, s in zip(head_idx, word_idx, suf_idx):
        names.append(f"{heads[h]} {words[w].capitalize()} {SUFFIXES[s]}")
    groups = []
    for i, root in enumerate(roots):
        head = heads[int(_zipf_index(rng, len(heads), 1, a=0.5)[0])]
        g = _planted_group(rng, head, root, chain=i >= n_pairs)
        groups.append(g)
        names.extend(g)
    n_keys = len(names)
    n_null_names = max(1, n_keys // 500)
    for i in rng.choice(n_keys, n_null_names, replace=False):
        if not any(names[i] in g for g in groups):
            names[i] = None
    ibans = _ibans(rng, n_keys).to_pylist()
    u = rng.random(n_keys)
    ibans = ["" if x < 0.02 else None if x < 0.04 else v
             for x, v in zip(u, ibans)]
    n_rows = n_keys + int(n_keys * LINKAGE_DUP_SHARE)
    rows = np.concatenate([np.arange(n_keys),
                           rng.integers(0, n_keys, n_rows - n_keys)])
    rng.shuffle(rows)
    table = pa.table({
        "id": pa.array(np.arange(1, n_rows + 1, dtype=np.int64)),
        "name": pa.array([names[r] for r in rows], pa.string()),
        "iban": pa.array([ibans[r] for r in rows], pa.string()),
    })
    path = os.path.join(out_dir, "counterparties.csv")
    pacsv.write_csv(table, path)
    return {"path": path, "records": n_rows, "groups": groups}


# ---------------------------------------------------------------------------
# corpus_near_dup
# ---------------------------------------------------------------------------

_NORM_RE = re.compile(r"[^a-z0-9\s]")
_WS_RE = re.compile(r"\s+")


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Word 3-shingles of the normalized text, spelled like
    ``text.normalize_text`` + ``word_ngrams_of``."""
    toks = _WS_RE.sub(" ", _NORM_RE.sub(" ", text.lower())).strip().split(" ")
    k = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i:i + n]) for i in range(k)}


def shingle_jaccard(a: str, b: str) -> float:
    sa, sb = word_shingles(a), word_shingles(b)
    return len(sa & sb) / len(sa | sb)


def _clone_text(rng: np.random.Generator, words: list[str]) -> str:
    """Exact clone up to case and punctuation: same tokens after
    ``normalize_text``."""
    out = []
    for w in words:
        if rng.random() < 0.2:
            w = w.upper() if rng.random() < 0.5 else w.capitalize()
        if rng.random() < 0.1:
            w += "," if rng.random() < 0.5 else "."
        out.append(w)
    return " ".join(out)


def _near_text(rng: np.random.Generator, words: list[str],
               vocab: list[str]) -> str:
    """Near duplicate: one word replaced and one appended."""
    w = list(words)
    w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
    w.append(vocab[int(rng.integers(len(vocab)))])
    return " ".join(w)


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


# Embedding width, and the share of rows that sit in planted groups.
EMBED_DIM = 128
GROUP_SHARE = 0.5


def corpus(out_dir: str, rng: np.random.Generator, n_docs: int,
           n_vectors: int) -> dict:
    """``documents.parquet`` and ``embeddings.parquet`` in the fixture
    schema, written as one scale-factor directory.

    Documents: a little under ``GROUP_SHARE`` of the rows sit in planted
    groups of 2-4. A member is an exact clone (case and punctuation changed
    only) or a near duplicate (one word replaced, one appended) of the group's
    base text of 80-120 words; every pair inside a group has word
    3-shingle Jaccard of at least 0.9, and texts outside a group share no
    shingle with it.
    Embeddings (``EMBED_DIM`` wide): groups of 2-4 around one base direction,
    each member a byte-identical copy or a near copy (cosine ≥ 0.99);
    every pair from different groups has cosine below 0.25. Ids are a
    random permutation, so groups mix even and odd ids. Returns the
    paths, the record count and the planted groups as id lists."""
    vocab = pseudo_words(rng, 30000, (2, 4))

    def _grouping(n: int) -> list[list[int]]:
        ids = [int(i) for i in rng.permutation(n)]
        groups, pos = [], 0
        while pos < n:
            grouped = rng.random() < GROUP_SHARE / 2.5
            size = int(rng.integers(2, 5)) if grouped else 1
            groups.append(sorted(ids[pos:pos + size]))
            pos += size
        return groups

    doc_groups = _grouping(n_docs)
    texts: dict[int, str] = {}
    langs: dict[int, str] = {}
    for g in doc_groups:
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
        while True:
            n_words = int(rng.integers(80, 120))
            base = [vocab[int(i)]
                    for i in rng.integers(0, len(vocab), n_words)]
            members = [" ".join(base)] + [
                _clone_text(rng, base) if rng.random() < 0.4
                else _near_text(rng, base, vocab) for _ in g[1:]]
            if all(shingle_jaccard(a, b) >= 0.9
                   for i, a in enumerate(members) for b in members[i + 1:]):
                break
        for doc_id, text in zip(g, members):
            texts[doc_id] = text
            langs[doc_id] = lang
    ids = sorted(texts)
    documents = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([texts[i] for i in ids]),
        "lang": pa.array([langs[i] for i in ids]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
    })

    vec_groups = _grouping(n_vectors)
    bases = np.empty((0, EMBED_DIM), np.float32)
    vectors: dict[int, np.ndarray] = {}
    exact: list[list[int]] = []
    for g in vec_groups:
        for _ in range(10000):
            b = _unit(rng.standard_normal(EMBED_DIM))
            if not len(bases) or float(np.max(bases @ b)) < 0.2:
                break
        else:
            raise RuntimeError("no base direction far enough from the rest")
        bases = np.vstack([bases, b])
        vectors[g[0]] = b
        copies = [g[0]]
        for vid in g[1:]:
            if rng.random() < 0.5:
                vectors[vid] = b.copy()
                copies.append(vid)
            else:
                vectors[vid] = _unit(b + rng.normal(0, 0.005, EMBED_DIM))
        if len(copies) > 1:
            exact.append(copies)
    vids = sorted(vectors)
    mat = np.stack([vectors[i] for i in vids])
    group_of = np.empty(n_vectors, np.int64)
    for gi, g in enumerate(vec_groups):
        group_of[g] = gi
    cos = mat @ mat.T
    same = group_of[vids][:, None] == group_of[vids][None, :]
    if float(cos[~same].max(initial=-1.0)) >= 0.25 or \
            float(cos[same].min()) < 0.99:
        raise RuntimeError("embedding groups are not separated")
    embeddings = pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in mat],
                              pa.list_(pa.float32())),
        "label": pa.array([int(group_of[i] % 10) for i in vids], pa.int32()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"sf_dir": out_dir, "records": n_docs + n_vectors,
            "doc_groups": doc_groups, "vec_groups": vec_groups,
            "vec_exact": exact, "doc_lang": langs}
