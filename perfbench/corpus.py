"""Seeded generator for the `oneshot` workload's `documents` corpus.

The table keeps the fixture schema (doc_id int64, text, lang, source,
n_chars int64). Text is lowercase space-separated tokens: alpha words
drawn from a Zipf distribution over a generated vocabulary, plus a
stated share (NUM_SHARE) of numeric tokens (integers, decimals and
negative integers) so the reference's `num` category is measured too.

The same seed gives byte-identical parquet. The engine reads a directory
of `parts` files, one row group each, so a scan splits into `parts` tasks
under Spark's default split sizing; the oracle reads the same rows as one
file with `parts` row groups.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
VOCAB_SIZE = 2000
ZIPF_A = 1.1
NUM_SHARE = 0.08
MEAN_TOKENS = 60


def vocabulary(rng, size):
    """`size` distinct lowercase words of 2 to 9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(letters, int(rng.integers(2, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def numeric_tokens(rng, n):
    """`n` numeric tokens, a quarter each of small ints, large ints,
    decimals and negative ints."""
    kind = rng.integers(0, 4, n)
    a = rng.integers(0, 100000, n)
    b = rng.integers(0, 100, n)
    out = np.empty(n, dtype=object)
    for i in range(n):
        k = kind[i]
        out[i] = (str(a[i] % 100) if k == 0 else str(a[i]) if k == 1
                  else f"{a[i] % 1000}.{b[i]}" if k == 2 else f"-{a[i] % 500 + 1}")
    return out


def table(seed, n_docs):
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, VOCAB_SIZE)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_A
    lengths = np.clip(rng.poisson(MEAN_TOKENS, n_docs), 8, None)
    total = int(lengths.sum())
    tokens = vocab[rng.choice(VOCAB_SIZE, total, p=weights / weights.sum())]
    is_num = rng.random(total) < NUM_SHARE
    tokens[is_num] = numeric_tokens(rng, int(is_num.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(tokens[e - n:e]) for e, n in zip(ends, lengths)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)].tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(seed, n_docs, parts, engine_dir, oracle_file):
    """Writes the corpus as `engine_dir/part-*.parquet` and `oracle_file`."""
    t = table(seed, n_docs)
    rows = -(-n_docs // parts)
    engine_dir.mkdir(parents=True)
    for i in range(parts):
        pq.write_table(t.slice(i * rows, rows), engine_dir / f"part-{i:05d}.parquet")
    pq.write_table(t, oracle_file, row_group_size=rows)
