"""Seeded input generation and the independent oracles.

Everything the program sees is written here, from the seed alone; the
expected results are computed by plain Python that restates the reference's
semantics, never by the program under test.

Reference cleanup (the paper's `master.py`, lines 44-61): remove the 32
`string.punctuation` characters, `strip()`, `lower()`, drop non-ASCII, then
`split()` into words.
"""
import collections
import os
import string

import numpy as np

PUNCT_TABLE = str.maketrans("", "", string.punctuation)

# Latin-1 letters whose lowercase form is still non-ASCII, so the
# lowercase-then-drop order of the reference is what decides the word.
ACCENTED = "éèêëáàâäíïóöôúüùçñÉÈÁÀÖÜÇÑß"
LETTERS = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"
PUNCT_ATTACH = ",.;:!?\"'()[]-_/*&%$#@"


def clean_words(line):
    """The reference's line cleanup followed by `split()`."""
    line = line.translate(PUNCT_TABLE).strip().lower()
    return line.encode("ascii", "ignore").decode("ascii").split()


# --------------------------------------------------------------- text corpus

def _vocabulary(rng, n):
    """`n` distinct raw tokens: plain words, capitalised words, accented
    words, digit-leading tokens and a few with embedded punctuation."""
    words, seen = [], set()
    while len(words) < n:
        m = n + n // 4
        lengths = rng.integers(2, 10, m)
        letters = rng.integers(0, 26, (m, 9))
        kinds = rng.random(m)
        pos = rng.integers(0, 1 << 30, m)
        extra = rng.integers(0, 1 << 30, m)
        for length, row, kind, p, x in zip(lengths, letters, kinds, pos, extra):
            w = "".join(LETTERS[i] for i in row[:length])
            if kind < 0.06:
                k = p % length
                w = w[:k] + ACCENTED[x % len(ACCENTED)] + w[k + 1:]
            elif kind < 0.10:
                w = DIGITS[x % 10] + w
            elif kind < 0.14:
                w = w.capitalize()
            elif kind < 0.16:
                k = 1 + p % (length - 1)
                w = w[:k] + "'-"[x % 2] + w[k:]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def text_files(seed, n_files, total_bytes, vocab=50_000, zipf_s=1.05):
    """`n_files` (name, text) pairs of about `total_bytes` together. Word
    ranks follow Zipf(`zipf_s`) over a `vocab`-word vocabulary; lines carry
    attached punctuation, occasional tabs, upper-case runs and blank lines."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    perm = rng.permutation(vocab)  # rank -> word, so the top words differ per seed
    per_file = total_bytes // n_files
    files = []
    for f in range(n_files):
        n_tokens = max(1, per_file // 7)
        picks = perm[rng.choice(vocab, size=n_tokens, p=p)]
        decor = rng.random(n_tokens)
        lines, line = [], []
        line_len = int(rng.integers(4, 16))
        for w_idx, d in zip(picks, decor):
            w = words[w_idx]
            if d < 0.05:
                w = w + PUNCT_ATTACH[int(d * 400) % len(PUNCT_ATTACH)]
            elif d < 0.07:
                w = "(" + w + ")"
            elif d < 0.08:
                w = w.upper()
            line.append(w)
            if len(line) >= line_len:
                sep = "\t" if d > 0.995 else " "
                lines.append(sep.join(line))
                line, line_len = [], int(rng.integers(4, 16))
                if d > 0.97:
                    lines.append("")
                if d > 0.99:
                    lines.append("  ...  ")
        if line:
            lines.append(" ".join(line))
        files.append((f"doc_{f:04d}.txt", "\n".join(lines) + "\n"))
    return files


def write_files(dir_path, files):
    os.makedirs(dir_path, exist_ok=True)
    for name, text in files:
        with open(os.path.join(dir_path, name), "w", encoding="utf-8") as fh:
            fh.write(text)


def word_index(files):
    """Expected wordcount and inverted index of `files` under the
    reference's semantics: word -> (count, sorted distinct file names)."""
    counts = collections.Counter()
    docs = collections.defaultdict(set)
    for name, text in files:
        for line in text.split("\n"):
            ws = clean_words(line)
            counts.update(ws)
            for w in ws:
                docs[w].add(name)
    return {w: (c, sorted(docs[w])) for w, c in counts.items()}


def lookup_terms(seed, present, n, miss_frac=0.10):
    """`n` seeded lookup terms: about `miss_frac` are absent from the
    result, the rest are drawn uniformly from the present words."""
    rng = np.random.default_rng(seed + 7919)
    present = sorted(present)
    out = []
    for i in range(n):
        if rng.random() < miss_frac:
            out.append("zz" + "".join(LETTERS[j] for j in rng.integers(0, 26, 9)) + "q")
        else:
            out.append(present[int(rng.integers(0, len(present)))])
    return out


# ----------------------------------------------------------- catalog tables

CATALOG_VOCAB = 2000
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]


def catalog_tables(seed, dir_path, n_docs, n_vecs, dim=64, dup_frac=0.05):
    """`documents` and `embeddings` parquet tables in the shape the
    catalog queries read: 10-99 plain lower-case words, a
    `dup_frac` share of near-duplicates (an earlier original plus " dup"),
    unit-norm 64-d float vectors with 10 weakly separated labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a vocabulary wide enough that unrelated documents almost never land
    # within the near-duplicate distance, so the duplicate graph is the
    # planted one
    words = [w.lower() for w in _vocabulary(np.random.default_rng(104729), CATALOG_VOCAB)
             if w.isascii() and w.isalpha()]
    rng = np.random.default_rng(seed + 104729)
    texts, originals = [], []
    for i in range(n_docs):
        if i >= 20 and rng.random() < dup_frac:
            # a near-duplicate of an original, so every duplicate class is
            # a star and the CC loop's depth does not depend on the seed
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            n = int(rng.integers(10, 100))
            originals.append(i)
            texts.append(" ".join(words[j] for j in rng.integers(0, len(words), n)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    sources = [f"src{int(k)}" for k in rng.integers(0, 20, n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([str(x) for x in langs], pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, dim))
    x = rng.normal(0.0, 1.0, (n_vecs, dim)) + 0.6 * centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(docs, os.path.join(dir_path, "documents.parquet"))
    pq.write_table(emb, os.path.join(dir_path, "embeddings.parquet"))
