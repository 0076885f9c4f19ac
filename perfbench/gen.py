"""Seeded input generators and the exact truth each workload checks against.

Everything here is numpy/pyarrow only (no Spark), so the same seed gives
byte-identical parquet inputs and truth values on any machine, and the
library under test never sees anything but the generated rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh", "pt", "it", "nl"]
# Zipf-ish language mix: a heavy head and a long tail of small languages
LANG_P = np.array([0.42, 0.16, 0.11, 0.09, 0.08, 0.06, 0.05, 0.03])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# ------------------------------------------------------------------ pages --


def pages(seed: int, n_rows: int, n_days: int) -> dict:
    """CC-style page rows: ``url``, ``lang``, ``day``.

    Url popularity is power-law skewed over a universe of ``n_rows // 2``
    ids, so a url is crawled on several days and the distinct count is a
    fixed share of the rows. ``lang`` and the (Zipf-skewed) host are
    functions of the url; ``day`` is drawn per row."""
    rng = _rng(seed, 1)
    universe = max(1000, n_rows // 2)
    url_id = np.floor(universe * rng.random(n_rows) ** 3).astype(np.int64)
    # per-url attributes come from a seeded lookup over the universe
    urng = _rng(seed, 2)
    url_lang = np.searchsorted(np.cumsum(LANG_P), urng.random(universe), side="right")
    url_lang = np.minimum(url_lang, len(LANGS) - 1).astype(np.int8)
    url_host = np.floor(4096 * urng.random(universe) ** 2).astype(np.int64)
    url_salt = urng.integers(0, 1 << 40, universe, dtype=np.int64)
    day = rng.integers(0, n_days, n_rows).astype(np.int32)
    lang_idx = url_lang[url_id]
    host = url_host[url_id]
    url = pc.binary_join_element_wise(
        "https://h",
        pa.array(host).cast(pa.string()),
        ".example.org/",
        pa.array(np.array(LANGS)[lang_idx]),
        "/p",
        pa.array(url_salt[url_id]).cast(pa.string()),
        "",
    )
    return {"url_id": url_id, "lang_idx": lang_idx, "day": day, "url": url}


def pages_table(p: dict) -> pa.Table:
    return pa.table({"url": p["url"], "lang": pa.array(np.array(LANGS)[p["lang_idx"]]), "day": pa.array(p["day"])})


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` row slices, so a scan opens more
    splits than a small cluster has cores."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def _distinct_per(group: np.ndarray, key: np.ndarray, n_groups: int) -> np.ndarray:
    """Distinct ``key`` count per ``group`` (both int arrays)."""
    pairs = np.unique(group.astype(np.int64) * (1 << 40) + key)
    return np.bincount(pairs >> 40, minlength=n_groups)


def page_truth(p: dict, n_days: int) -> dict:
    """Exact distinct-url counts at every grain a workload asks for."""
    nl = len(LANGS)
    ids, lang, day = p["url_id"], p["lang_idx"].astype(np.int64), p["day"].astype(np.int64)
    by_day_lang = _distinct_per(day * nl + lang, ids, n_days * nl)
    return {
        "global": int(np.unique(ids).size),
        "by_lang": dict(zip(LANGS, _distinct_per(lang, ids, nl).tolist())),
        "by_day_lang": {
            (d, LANGS[l]): int(by_day_lang[d * nl + l])
            for d in range(n_days)
            for l in range(nl)
            if by_day_lang[d * nl + l]
        },
    }


def window_truth(p: dict, start: int, width: int) -> int:
    sel = (p["day"] >= start) & (p["day"] < start + width)
    return int(np.unique(p["url_id"][sel]).size)


# ----------------------------------------------------------------- corpus --


def corpus(seed: int, n_docs: int, dup_frac: float = 0.20, near_frac: float = 0.05) -> dict:
    """Training corpus: ``doc_id``, ``lang``, ``text``.

    Doc lengths are heavy-tailed (8 to 160 tokens), token ids follow a
    Zipf law over a vocabulary of ``max(2000, n_docs // 2)`` words, ``dup_frac`` of
    the docs copy an earlier doc exactly and ``near_frac`` copy one with a
    single token replaced. The shape follows the dedup-axis corpus in
    ``tools/bench_dedup_axis.py``, with variable lengths and a language."""
    rng = _rng(seed, 3)
    vocab = max(2000, n_docs // 2)
    lengths = np.minimum(160, 8 + np.floor(rng.lognormal(3.0, 0.7, n_docs))).astype(np.int64)
    kind = rng.random(n_docs)
    src = np.arange(n_docs)
    copy = (kind < dup_frac + near_frac) & (src > 0)
    src[copy] = np.floor(rng.random(int(copy.sum())) * src[copy]).astype(np.int64)
    # follow copy chains to the original doc, so a copy's text is its
    # source's real text
    while True:
        nxt = src[src]
        if np.array_equal(nxt, src):
            break
        src = nxt
    lengths = lengths[src]
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    toks = ((rng.zipf(1.2, int(offsets[-1])) - 1) % vocab).astype(np.int64)
    # a copy reuses its original's token slice
    base = offsets[src]
    idx = np.repeat(base - offsets[:-1], lengths) + np.arange(offsets[-1])
    toks = toks[idx]
    near = copy & (kind >= dup_frac)
    pos = offsets[:-1][near] + np.floor(rng.random(int(near.sum())) * lengths[near]).astype(np.int64)
    toks[pos] = vocab + rng.integers(0, vocab, pos.size)  # a word no original uses
    lang_idx = np.searchsorted(np.cumsum(LANG_P), _rng(seed, 4).random(n_docs), side="right")
    lang_idx = np.minimum(lang_idx, len(LANGS) - 1)[src]
    words = pc.binary_join_element_wise("w", pa.array(toks).cast(pa.string()), "")
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words), " "
    )
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "lang_idx": lang_idx,
        "tokens": toks,
        "offsets": offsets,
        "text": text,
    }


def corpus_table(c: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(c["doc_id"]),
            "lang": pa.array(np.array(LANGS)[c["lang_idx"]]),
            "text": c["text"],
        }
    )


def doc_shingles(c: dict, n: int = 3) -> list[frozenset]:
    """Distinct word n-gram shingles per doc, as token-id tuples (a doc
    shorter than ``n`` has one shingle: all its tokens)."""
    toks, off = c["tokens"], c["offsets"]
    out = []
    for i in range(len(off) - 1):
        t = toks[off[i] : off[i + 1]].tolist()
        k = max(1, len(t) - n + 1)
        out.append(frozenset(tuple(t[j : j + n]) for j in range(k)))
    return out


def corpus_truth(c: dict, eval_every: int) -> dict:
    """Exact token counts, doc lengths per language, distinct-text count
    and per-train-doc contamination against the 1-in-``eval_every`` split."""
    values, counts = np.unique(c["tokens"], return_counts=True)
    order = np.argsort(-counts, kind="stable")
    text = c["text"].to_numpy(zero_copy_only=False)
    lengths = np.array([len(t) for t in text])
    sh = doc_shingles(c)
    ev = set().union(*(sh[i] for i in range(0, len(sh), eval_every)))
    contamination = {
        i: (len(s), sum(x in ev for x in s))
        for i, s in enumerate(sh)
        if i % eval_every
    }
    return {
        "n_tokens": int(c["tokens"].size),
        "token_counts": dict(zip((f"w{v}" for v in values[order]), counts[order].tolist())),
        "lengths_by_lang": {
            LANGS[l]: np.sort(lengths[c["lang_idx"] == l]) for l in np.unique(c["lang_idx"])
        },
        "distinct_texts": int(np.unique(text).size),
        "shingles": sh,
        "contamination": contamination,
    }
