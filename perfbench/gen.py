"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload parameters, seed): the same
seed writes byte-identical files. The engine only ever sees the files
written here; the planted truth (corpus clusters, languages, quality) goes
to a separate file that only the output checks read.

Parameters and the reason for each live in ``workloads.json``.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BRANDS = ["BrandA", "BrandB", "BrandC", "BrandD", "BrandE", "BrandF"]
GROUPS = ["UA", "AA", "ever_used", "consider"]
REGIONS = ["North", "South", "East", "West", "Central", "Islands"]
SECS = ["A", "B", "C", "D", "E"]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _blank(rng, values, share):
    """Replace a ``share`` of cells with None (a blank CSV cell)."""
    out = np.asarray(values, dtype=object)
    out[rng.random(len(out)) < share] = None
    return out


def survey(out_dir, seed, respondents, blank_share, garbage_share, stream=0):
    """One tracker wave: ``wave.csv``, ``codebook.csv``, ``mapping.json``.

    The schema is the survey fixture's (resp_id, demographics, weight,
    top-of-mind, four multi-select groups, bumo, osat, nps) widened to six
    brands per multi-select group. Cells carry the reference's edge cases:
    blanks, non-numeric garbage in weight/osat, ``"0.0"`` and ``"Yes"`` in
    the multi-selects (both count as selected), out-of-range NPS scores and
    a gender code the codebook leaves unmapped.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, stream)
    n = respondents
    cols = {}
    cols["resp_id"] = np.array([f"R{i:07d}" for i in range(n)], dtype=object)
    cols["gender"] = _blank(rng, rng.choice(["1", "2", "3"], n, p=[0.48, 0.48, 0.04]), blank_share)
    cols["age"] = _blank(rng, rng.integers(18, 71, n).astype(str), blank_share)
    cols["region"] = _blank(rng, rng.choice(REGIONS, n, p=[0.3, 0.25, 0.2, 0.12, 0.08, 0.05]), blank_share)
    cols["sec"] = _blank(rng, rng.choice(SECS, n), blank_share)
    # multiples of 0.5 keep every weighted sum exact in both engines
    weight = rng.choice(["0.5", "1", "1.5", "2", "2.5"], n).astype(object)
    weight[rng.random(n) < garbage_share] = "n/a"
    cols["weight"] = _blank(rng, weight, blank_share)
    tom = rng.choice(BRANDS + ["branda", "BRANDB", "Other"], n)
    cols["tom_brand"] = _blank(rng, tom, blank_share)
    for g in GROUPS:
        for b in BRANDS:
            v = rng.choice(["1", "0", "Yes", "0.0"], n, p=[0.35, 0.45, 0.1, 0.1]).astype(object)
            # the first cell is non-numeric so the column infers as string,
            # the type the "0"-only deselect rule is defined on
            v[0] = "Yes"
            cols[f"{g}_{b}"] = _blank(rng, v, blank_share)
    cols["bumo"] = _blank(rng, rng.choice(BRANDS, n), 3 * blank_share)
    osat = rng.integers(1, 6, n).astype(str).astype(object)
    osat[rng.random(n) < garbage_share] = "x"
    osat[0] = "x"
    cols["osat"] = _blank(rng, osat, blank_share)
    nps = rng.integers(0, 11, n).astype(str).astype(object)
    nps[rng.random(n) < garbage_share] = "11"
    cols["nps_recommend"] = _blank(rng, nps, blank_share)
    cols["wave"] = np.full(n, "W1", dtype=object)
    pd.DataFrame(cols).to_csv(os.path.join(out_dir, "wave.csv"), index=False, na_rep="")

    codebook = [("gender", "1", "Male"), ("gender", "2", "Female"),
                ("sec", "A", "Upper"), ("sec", "B", "Upper Middle"),
                ("sec", "C", "Middle"), ("sec", "D", "Lower Middle"),
                ("sec", "E", "Lower"), ("not_a_column", "1", "Ignored")]
    pd.DataFrame(codebook, columns=["column", "value", "label"]).to_csv(
        os.path.join(out_dir, "codebook.csv"), index=False)

    mapping = {
        "respondent_id": "resp_id",
        "demographics": ["gender", "age", "region", "sec"],
        "awareness": {"tom": "tom_brand",
                      "unaided": [f"UA_{b}" for b in BRANDS],
                      "aided": [f"AA_{b}" for b in BRANDS]},
        "usage": {"ever_used": [f"ever_used_{b}" for b in BRANDS],
                  "bumo": ["bumo"],
                  "consider": [f"consider_{b}" for b in BRANDS]},
        "satisfaction": {"csat": "osat"},
        "nps": {"score": "nps_recommend"},
    }
    with open(os.path.join(out_dir, "mapping.json"), "w") as f:
        json.dump(mapping, f, indent=2)


# Stopword lists the engine's language vote uses; "en" is the allowed
# language, the others make disallowed documents.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "y", "los", "es", "una", "que", "la", "de"],
}


def _vocab(rng, size):
    syl = ["ka", "lo", "mi", "ter", "son", "vel", "dra", "pin", "qu", "rax",
           "sel", "tor", "umb", "wen", "yo", "zik", "bra", "cle", "fon", "gri"]
    words = set()
    while len(words) < size:
        k = rng.integers(2, 4)
        words.add("".join(rng.choice(syl, k)))
    return sorted(words)


def _doc(rng, vocab, lang, length):
    stops = STOPWORDS[lang]
    is_stop = rng.random(length) < 0.3
    toks = np.where(is_stop, rng.choice(stops, length), rng.choice(vocab, length))
    return list(toks)


def _edit(rng, vocab, toks, share):
    """Replace ``share`` of the tokens (at least one) with other words."""
    toks = list(toks)
    for pos in rng.choice(len(toks), max(1, int(round(len(toks) * share))), replace=False):
        w = toks[pos]
        while w == toks[pos]:
            w = str(rng.choice(vocab))
        toks[pos] = w
    return toks


def corpus(out_dir, seed, docs, dup_share, cluster_p, edit_share, min_cluster_tokens,
           disallowed_share, low_quality_share, source_shares, source_mean_tokens,
           vocab_size, stream=0):
    """A document corpus with planted near-duplicate clusters.

    Writes ``corpus.parquet`` (id, text, source) for the engine and
    ``truth.parquet`` (id, cluster, lang, low_quality) for the checks.
    A cluster has 1 + Geometric(``cluster_p``) members, each a base
    document of at least ``min_cluster_tokens`` tokens with ``edit_share``
    of them replaced (at least one). Shingles are word 5-grams, where one
    edit breaks up to five shingles, so the length floor keeps every pair
    above the engine's Jaccard thresholds. Only allowed-language,
    good-quality documents are planted in clusters, so a cluster's fate
    depends on dedup alone.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, stream)
    vocab = _vocab(rng, vocab_size)
    sources = [f"src{i}" for i in range(len(source_shares))]
    texts, srcs, clusters, langs, lowq = [], [], [], [], []
    short_texts = set()

    def add(toks, src, cluster, lang, low):
        texts.append(" ".join(toks))
        srcs.append(src)
        clusters.append(cluster)
        langs.append(lang)
        lowq.append(low)

    def length_of(src_idx):
        return max(12, int(rng.exponential(source_mean_tokens[src_idx])))

    cluster_id = 0
    while len(texts) < int(docs * dup_share):
        s = int(rng.choice(len(sources), p=source_shares))
        base = _doc(rng, vocab, "en", max(min_cluster_tokens, length_of(s)))
        for _ in range(1 + int(rng.geometric(cluster_p))):
            add(_edit(rng, vocab, base, edit_share), sources[s], cluster_id, "en", False)
        cluster_id += 1
    while len(texts) < docs:
        s = int(rng.choice(len(sources), p=source_shares))
        u = rng.random()
        if u < disallowed_share:
            lang = str(rng.choice(["de", "es"]))
            add(_doc(rng, vocab, lang, length_of(s)), sources[s], -1, lang, False)
        elif u < disallowed_share + low_quality_share:
            if rng.random() < 0.5:
                # too short to keep; distinct, so it is no one's duplicate
                toks = list(rng.choice(vocab, int(rng.integers(2, 5))))
                while " ".join(toks) in short_texts:
                    toks = list(rng.choice(vocab, int(rng.integers(2, 5))))
                short_texts.add(" ".join(toks))
            else:
                toks = [str(rng.choice(["######", "!!!!!!", "??????", "******", "::::::"])) + w
                        for w in _doc(rng, vocab, "en", length_of(s))]
            add(toks, sources[s], -1, "en", True)
        else:
            add(_doc(rng, vocab, "en", length_of(s)), sources[s], -1, "en", False)
    # shuffle ids so cluster members are not adjacent
    ids = rng.permutation(len(texts)).astype(np.int64)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array(srcs, pa.string())}).sort_by("id"),
        os.path.join(out_dir, "corpus.parquet"))
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster": pa.array(clusters, pa.int64()),
        "lang": pa.array(langs, pa.string()),
        "low_quality": pa.array(lowq, pa.bool_())}).sort_by("id"),
        os.path.join(out_dir, "truth.parquet"))


def generate(kind, params, out_dir, seed, stream=0):
    if kind == "survey":
        survey(out_dir, seed, stream=stream, **params)
    elif kind == "corpus":
        corpus(out_dir, seed, stream=stream, **params)
    else:
        raise ValueError(f"unknown generator {kind!r}")
