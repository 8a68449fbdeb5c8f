"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical column data and the same digest. The engine only ever
sees the parquet directory written here, under the table names its
query registry reads (`events`, `documents`, `embeddings`).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes of the engine's reference tables (sf0.1): 100k events over
# January 2024, five event types, exponential values on a cent grid;
# 5k documents of 10-100 words over a 30-word vocabulary in 20 sources;
# 2k unit-norm 64-dim embeddings with ten labels.
EVENT_ROWS = 100_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 30 * 86_400_000_000

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

def events_table(seed, rows=EVENT_ROWS):
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, TS_SPAN_US, rows)) + TS_START_US
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, rows)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def _docs_base(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    texts = [list(vocab[words[s:s + k]]) for s, k in zip(starts, lens)]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return texts, langs


def corpus_tables(seed, base_docs, replicas, edit_share):
    """Documents and embeddings by seeded replication of a base corpus.

    Replica r of base row i gets id r * base + i (the shifted-id idiom),
    so every replica is a distinct row. Each replica after the first gets a
    one-word edit with probability `edit_share`; unedited replicas are
    exact duplicates of the base text. A replica's source is rotated so
    that some replicas of corpus text land in the `src0` benchmark source
    the decontamination query reads. The seed fixes base text, edits and
    row order.
    """
    rng = np.random.default_rng([seed, 3])
    texts, langs = _docs_base(rng, base_docs)
    base_vecs = rng.normal(0.0, 1.0, (base_docs, 64))
    labels = rng.integers(0, 10, base_docs).astype(np.int32)
    n = base_docs * replicas
    doc_id = np.empty(n, np.int64)
    text, lang, source, vecs, lab = [], [], [], np.empty((n, 64)), np.empty(n, np.int32)
    edited = 0
    for r in range(replicas):
        for i in range(base_docs):
            k = r * base_docs + i
            words = texts[i]
            v = base_vecs[i]
            if r > 0 and rng.random() < edit_share:
                words = list(words)
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
                v = v + rng.normal(0.0, 0.05, 64)
                edited += 1
            doc_id[k] = k
            text.append(" ".join(words))
            lang.append(langs[i])
            source.append(f"src{(i + 7 * r) % N_SOURCES}")
            vecs[k] = v
            lab[k] = labels[i]
    order = rng.permutation(n)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    text = [text[j] for j in order]
    docs = pa.table({
        "doc_id": pa.array(doc_id[order]),
        "text": pa.array(text),
        "lang": pa.array([lang[j] for j in order]),
        "source": pa.array([source[j] for j in order]),
        "n_chars": pa.array(np.array([len(t) for t in text], np.int64)),
    })
    emb = pa.table({
        "vec_id": pa.array(doc_id[order]),
        "embedding": pa.array(list(vecs[order]), type=pa.list_(pa.float32())),
        "label": pa.array(lab[order]),
    })
    dup_share = 1.0 - len(set(text)) / n
    stats = {"base_docs": base_docs, "replicas": replicas,
             "edited_replicas": edited, "exact_duplicate_share": round(dup_share, 4)}
    return docs, emb, stats


def digest(tables):
    """SHA-256 over every table's name, schema and column data."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        h.update(str(t.schema).encode())
        for c in t.itercolumns():
            for chunk in c.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def tables_for(workload, seed, sizes):
    """The named input tables of one workload plus facts to print."""
    if workload == "analysis_session":
        ev = events_table(seed, sizes["events"])
        return {"events": ev}, {"events": ev.num_rows}
    if workload == "curation_batch":
        docs, emb, stats = corpus_tables(
            seed, sizes["base_docs"], sizes["replicas"], sizes["edit_share"])
        return ({"documents": docs, "embeddings": emb},
                dict(documents=docs.num_rows, embeddings=emb.num_rows, **stats))
    raise ValueError(f"unknown workload {workload!r}")


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 20)
