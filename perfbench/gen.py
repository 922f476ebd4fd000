"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs. Inputs are written under the benchmark's
work directory, keyed by workload, size, seed and a hash of this
module's source, so an edit to the generators can never be served a
stale fixture (and neither can the oracle answers cached beside it).

The generators also return what the correctness checks need (the
delivered stream rows, the pre-existing WordPress rows), which the
program under test never sees.

Seeds below 1000 were used while the benchmark was sized and tuned;
``HOLDOUT_SEED`` never was, so a performance claim can be confirmed on
inputs it was not developed against.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "of", "and", "to")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.5, 0.15, 0.15, 0.1, 0.1)
HOLDOUT_SEED = 104729
SYLLABLES = ("ka", "lo", "mi", "re", "su", "ta", "ve", "no", "pi", "da",
             "ru", "zo", "be", "fi", "go", "ha", "je", "ku", "ly", "wa")


def source_hash() -> str:
    """Short hash of this module's source: part of every cache key."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def input_dir(work: str, workload: str, size: str, seed: int) -> str:
    return os.path.join(work, "inputs",
                        f"{workload}-{size}-s{seed}-{source_hash()}")


def _ensure(path: str) -> str:
    """The input directory, kept between runs: files are rewritten in
    place, so an oracle answer cached beside them survives."""
    os.makedirs(path, exist_ok=True)
    return path


def _vocab(rng: np.random.Generator, n_words: int) -> np.ndarray:
    """``n_words`` distinct pronounceable words of 2-5 syllables."""
    words: set[str] = set()
    syl = np.array(SYLLABLES)
    while len(words) < n_words:
        k = n_words - len(words)
        lens = rng.integers(2, 6, size=k)
        picks = rng.integers(0, len(syl), size=(k, 5))
        for n, row in zip(lens, picks):
            words.add("".join(syl[row[:n]]))
    return np.array(sorted(words))


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n) + 10.0)
    return p / p.sum()


def _texts(rng, vocab, p, lengths) -> list[str]:
    """One space-joined lower-case text per entry of ``lengths``; about
    one token in seven is a stop word, so the quality gate passes."""
    total = int(lengths.sum())
    toks = vocab[rng.choice(len(vocab), size=total, p=p)]
    stop = rng.random(total) < 0.15
    toks[stop] = np.array(STOPWORDS)[rng.integers(0, 5, size=stop.sum())]
    ends = np.cumsum(lengths)
    return [" ".join(toks[e - n:e]) for n, e in zip(lengths, ends)]


def _near_copy(rng, text: str, vocab) -> str:
    """Replace one token: trigram Jaccard with the original stays >= 0.7
    for the texts generated here (>= 24 tokens)."""
    toks = text.split(" ")
    toks[int(rng.integers(0, len(toks)))] = str(
        vocab[int(rng.integers(0, len(vocab)))])
    return " ".join(toks)


def _plant_duplicates(rng, texts, vocab, share_exact, share_near):
    """Overwrite random rows with exact or near copies of other rows."""
    n = len(texts)
    n_exact, n_near = int(n * share_exact), int(n * share_near)
    rows = rng.permutation(n)
    targets = rows[:n_exact + n_near]
    sources = rows[n_exact + n_near:][:len(targets)]
    for i, (dst, src) in enumerate(zip(targets, sources)):
        t = texts[src]
        texts[dst] = t if i < n_exact else _near_copy(rng, t, vocab)


def corpus(work: str, seed: int, n_docs: int) -> dict:
    """``documents.parquet`` (doc_id, text, lang) for the corpus journey.

    The vocabulary grows with the corpus (Heaps' law, ~40·sqrt(tokens)),
    5% of docs are too short for the token gate, and 4% exact plus 8%
    near copies plant duplicate clusters for the dedup stages.
    """
    path = input_dir(work, "corpus", str(n_docs), seed)
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(24, 96, size=n_docs)
    short = rng.random(n_docs) < 0.05
    lengths[short] = rng.integers(2, 8, size=int(short.sum()))
    vocab = _vocab(rng, int(40 * np.sqrt(lengths.sum())))
    texts = _texts(rng, vocab, _zipf_p(len(vocab)), lengths)
    _plant_duplicates(rng, texts, vocab, 0.04, 0.08)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n_docs, p=LANG_P)],
    })
    pq.write_table(table, os.path.join(_ensure(path), "documents.parquet"))
    return {"dir": path}


def stream(work: str, seed: int, n_batches: int, batch_size: int) -> dict:
    """Microbatches ``batch=<i>.parquet`` (doc_id, text) for the
    incremental dedup stream, and every delivered row in order, which
    the checks compare the store against.

    From the second batch on, each batch re-delivers 4% of earlier docs
    (same id and text), carries 3% exact and 6% near copies of earlier
    docs under new ids, and 2% in-batch near copies.
    """
    path = _ensure(input_dir(work, "stream",
                            f"{n_batches}x{batch_size}", seed))
    rng = np.random.default_rng([seed, 2])
    n_new = n_batches * batch_size
    lengths = rng.integers(24, 96, size=n_new)
    vocab = _vocab(rng, int(40 * np.sqrt(lengths.sum())))
    fresh = _texts(rng, vocab, _zipf_p(len(vocab)), lengths)
    seen_ids: list[int] = []
    seen_text: dict[int, str] = {}
    rows = []            # (doc_id, text)
    next_id = 0
    for b in range(n_batches):
        batch = []
        for j in range(batch_size):
            t = fresh[b * batch_size + j]
            batch.append((next_id, t))
            seen_text[next_id] = t
            next_id += 1
        k = batch_size
        if seen_ids:
            old = rng.choice(seen_ids, size=int(0.13 * k), replace=False)
            n_re, n_ex = int(0.04 * k), int(0.03 * k)
            for j, src in enumerate(old.tolist()):
                t = seen_text[src]
                if j < n_re:        # re-delivery: same id, same text
                    batch.append((src, t))
                    continue
                if j >= n_re + n_ex:
                    t = _near_copy(rng, t, vocab)
                batch.append((next_id, t))
                next_id += 1
        for src_i in rng.choice(k, size=int(0.02 * k), replace=False):
            batch.append((next_id, _near_copy(rng, batch[int(src_i)][1],
                                              vocab)))
            next_id += 1
        seen_ids.extend(r[0] for r in batch[:k])
        order = rng.permutation(len(batch))
        batch = [batch[i] for i in order]
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in batch],
                                         pa.int64()),
                      "text": [r[1] for r in batch]}),
            os.path.join(path, f"batch={b}.parquet"))
        rows.extend(batch)
    return {"dir": path, "rows": rows}


def legacy_posts(work: str, seed: int, n_posts: int) -> dict:
    """A legacy CMS export ``legacy.csv`` (id, title, body, status,
    category, tags, featured_url, published) and the WordPress state it
    migrates into: ``posts.parquet`` (every tenth export row already
    exists as a post, matched by slug) and ``attachments.parquet`` (half
    of the featured images already uploaded).

    Bodies carry disallowed markup (script, event handlers) for the
    kses sanitizer; one date in seven is malformed.
    """
    path = _ensure(input_dir(work, "legacy", str(n_posts), seed))
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    p = _zipf_p(len(vocab))
    ids = rng.permutation(np.arange(1, n_posts + 1) * 7)
    title_words = _texts(rng, vocab, p,
                         rng.integers(3, 7, size=n_posts))
    titles = [f"{w} {i}" for w, i in zip(title_words, ids)]
    paras = _texts(rng, vocab, p, rng.integers(40, 160, size=n_posts))
    bodies = [f'<p class="lead" onclick="x()">{t}</p>'
              f'<script>evil({i})</script><em>{w}</em>'
              for t, i, w in zip(paras, ids, title_words)]
    status = np.array(["Published", "Draft", "weird"])[
        rng.integers(0, 3, size=n_posts)]
    day = rng.integers(1, 29, size=n_posts)
    published = [f"1995-{m:02d}-{d:02d} 10:30:00" for m, d in
                 zip(rng.integers(1, 13, size=n_posts), day)]
    for i in np.flatnonzero(rng.random(n_posts) < 1 / 7):
        published[i] = "not a date"
    n_files = max(2, n_posts // 4)
    featured = [f"https://img.example/p{k}.png"
                for k in rng.integers(0, n_files, size=n_posts)]
    tags = [",".join(t.split(" ")[:3]) for t in
            _texts(rng, vocab, p, np.full(n_posts, 3))]
    legacy = pa.table({
        "id": pa.array(ids, pa.int64()), "title": titles, "body": bodies,
        "status": status,
        "category": [f"cat{c}" for c in
                     rng.integers(0, 40, size=n_posts)],
        "tags": tags, "featured_url": featured, "published": published,
    })
    pacsv.write_csv(legacy, os.path.join(path, "legacy.csv"))

    existing = np.flatnonzero(rng.random(n_posts) < 0.1)
    post_ids = rng.permutation(np.arange(1, len(existing) + 1) * 3)
    slugs = [_slug(titles[i]) for i in existing]
    pq.write_table(pa.table({
        "ID": pa.array(post_ids, pa.int64()),
        "post_name": slugs,
        "post_type": ["post"] * len(existing),
        "post_title": [titles[i] for i in existing],
        "post_status": ["publish"] * len(existing),
    }), os.path.join(path, "posts.parquet"))
    uploaded = rng.permutation(n_files)[:n_files // 2]
    pq.write_table(pa.table({
        "ID": pa.array(np.arange(1, len(uploaded) + 1) + 10 * n_posts,
                       pa.int64()),
        "file": [f"p{k}.png" for k in uploaded],
    }), os.path.join(path, "attachments.parquet"))
    return {"dir": path, "n_posts": n_posts,
            "existing": dict(zip(slugs, post_ids.tolist()))}


def _slug(title: str) -> str:
    """The slug the post preset derives from a plain-word title."""
    return "-".join(title.lower().split())
