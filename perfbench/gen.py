"""Seeded input generators for the benchmark.

Every input the program sees is written here from ``numpy``'s PCG64 seeded
by ``--seed``; the same seed gives byte-identical parquet files (pyarrow
writes no timestamps into the footer), another seed gives other files.
Each generator also returns the facts the correctness checks need (live
ids, corrupt ids, expected Solr fields), computed from the generator's own
records rather than from the program's output.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The vocabulary of the sf testdata documents: near-duplicate and chunk
# dedup lanes depend on a small vocabulary (shingles repeat across docs).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]

# Share of documents (stream input and the lanes' documents table) that
# are near copies of an earlier document, per workload.
# - dup_testdata: the share measured on the 5,000 sf0.1 testdata documents
#   (TESTDATA.md): 244 (4.88%) share at least half of their word
#   4-shingles (Jaccard) with an earlier document.  Of those, 122 insert
#   one word into the earlier text, 113 delete one, 8 are exact copies and
#   1 is another edit; sources are spread over all earlier documents.
#   ``near_copies.py`` measures this; on generated documents it reads
#   4.7-4.8% for dup_testdata, since an edit can push a short copy under
#   the threshold.
# - dup_recrawl: a contrast, half the arrivals are edited copies, as when
#   a crawl revisits pages it has fetched before.  The stateful chunk
#   dedup keeps state and calls its group function per distinct chunk
#   key, so this moves that work, while the reindex and lanes legs see
#   the same kind of input as in dup_testdata.
REUSE = {"dup_testdata": 244 / 5000, "dup_recrawl": 0.5}
EXACT_COPIES = 8 / 244  # of the near copies, the rest insert or delete a word


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input, so resizing one input never
    shifts the values of another."""
    salt = int(hashlib.sha256(stream.encode()).hexdigest()[:8], 16)
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _exactly(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask with exactly round(share * n) set positions, so every seed
    does the same amount of work and only the content differs."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(share * n)]] = True
    return mask


# --- reindex corpus -----------------------------------------------------


@dataclass
class Corpus:
    path: str
    live_ids: list[str]  # not deleted, payload parses
    corrupt_live_ids: list[str]  # not deleted, payload corrupt
    resume_id: str  # start id leaving ~5% of docs
    samples: dict[str, dict] = field(default_factory=dict)  # id -> fields


def _argot_records(rng: np.random.Generator, ids: list[str]) -> list[dict]:
    """Nested Argot JSON payloads: title struct, authors array, subjects
    array of structs (all random draws vectorized up front)."""
    n = len(ids)
    n_title = rng.integers(3, 9, n)
    title = rng.integers(0, len(VOCAB), (n, 8))
    sub = rng.integers(0, len(LANGS), n)
    n_auth = rng.integers(1, 4, n)
    auth = rng.integers(0, 500, (n, 3))
    n_subj = rng.integers(1, 4, n)
    subj = rng.integers(0, 200, (n, 3))
    press = rng.integers(0, 40, n)
    year = rng.integers(1900, 2024, n)
    pages = rng.integers(10, 900, n)
    return [
        {
            "id": did,
            "title": {
                "main": " ".join(VOCAB[w] for w in title[k, : n_title[k]]),
                "sub": LANGS[sub[k]],
            },
            "authors": [f"author{a}" for a in auth[k, : n_auth[k]]],
            "subjects": [
                {"uri": f"http://id.example/s/{x}", "label": f"subject {x}"}
                for x in subj[k, : n_subj[k]]
            ],
            "publisher": f"press{press[k]}",
            "publication_year": int(year[k]),
            "pages": int(pages[k]),
        }
        for k, did in enumerate(ids)
    ]


def solr_fields(doc: dict) -> dict:
    """The Solr document the pipeline must post for an Argot record:
    flatten (``title.main`` → ``title_main``; arrays of structs → parallel
    arrays), suffix by type, and the payload's own ``id`` renamed
    ``doc_id`` because it collides with the row key."""
    return {
        "id": doc["id"],
        "doc_id_t": doc["id"],
        "title_main_t": doc["title"]["main"],
        "title_sub_t": doc["title"]["sub"],
        "authors_a": doc["authors"],
        "subjects_uri_a": [s["uri"] for s in doc["subjects"]],
        "subjects_label_a": [s["label"] for s in doc["subjects"]],
        "publisher_t": doc["publisher"],
        "publication_year_i": doc["publication_year"],
        "pages_i": doc["pages"],
    }


def reindex_corpus(seed: int, out_dir: str, n_docs: int, sample_every: int) -> Corpus:
    """Spofford-shaped source relation (id, txn_id, owner, content,
    deleted) sorted by id: ~3% corrupt payloads, ~10% deleted rows."""
    rng = _rng(seed, "reindex")
    keys = np.cumsum(rng.integers(1, 4, n_docs)) + int(rng.integers(0, 1000))
    ids = [f"id{int(k):08d}" for k in keys]
    deleted = _exactly(rng, n_docs, 0.10)
    corrupt = _exactly(rng, n_docs, 0.03)
    cut = rng.uniform(0.1, 0.5, n_docs)
    contents, live, bad, samples = [], [], [], {}
    for k, (did, doc) in enumerate(zip(ids, _argot_records(rng, ids))):
        text = json.dumps(doc, separators=(",", ":"))
        if corrupt[k]:
            # a strict prefix of an object never parses
            text = text[: int(len(text) * cut[k])]
        contents.append(text)
        if not deleted[k] and corrupt[k]:
            bad.append(did)
        if not deleted[k] and not corrupt[k]:
            live.append(did)
            if k % sample_every == 0:
                samples[did] = solr_fields(doc)
    table = pa.table(
        {
            "id": pa.array(ids, pa.string()),
            "txn_id": pa.array(
                [f"txn{int(t)}" for t in rng.integers(0, 10_000, n_docs)], pa.string()
            ),
            "owner": pa.array(
                [f"owner{int(o)}" for o in rng.integers(0, 20, n_docs)], pa.string()
            ),
            "content": pa.array(contents, pa.string()),
            "deleted": pa.array(deleted, pa.bool_()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    _write(table, path)
    return Corpus(
        path=path,
        live_ids=live,
        corrupt_live_ids=bad,
        resume_id=ids[int(n_docs * 0.95)],
        samples=samples,
    )


# --- stream documents ---------------------------------------------------


def _doc_texts(rng: np.random.Generator, n: int, reuse: float) -> list[str]:
    """Documents over VOCAB; exactly a ``reuse`` share are near copies of
    a uniformly chosen earlier document, made the way the testdata's are
    (see REUSE).  Fresh documents take their lengths from a fixed spread
    of 10-99 words in seeded order."""
    copies = _exactly(rng, n, reuse)
    copies[0] = False
    lengths = rng.permutation(np.linspace(10, 99, n).round().astype(int))
    texts: list[str] = []
    for i in range(n):
        if copies[i]:
            words = texts[int(rng.integers(0, i))].split()
            edit = rng.random()
            pos = int(rng.integers(0, len(words)))
            if edit < EXACT_COPIES:
                pass
            elif edit < (1 + EXACT_COPIES) / 2:
                del words[pos]
            else:
                words.insert(pos, VOCAB[int(rng.integers(0, len(VOCAB)))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_words(rng, int(lengths[i]))))
    return texts


def _documents_table(rng, first_id: int, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, 5, n)]),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def stream_documents(
    seed: int, workload: str, out_dir: str, n_docs: int, n_files: int
) -> int:
    """``<out_dir>/documents.parquet/`` as ``n_files`` part files in
    ascending doc_id with strictly increasing mtimes: the file source
    admits files oldest first, one per micro-batch, so arrival order is
    doc_id order — the order the stream lanes' oracles assume."""
    rng = _rng(seed, "stream")
    texts = _doc_texts(rng, n_docs, REUSE[workload])
    table = _documents_table(rng, 0, texts)
    d = os.path.join(out_dir, "documents.parquet")
    os.makedirs(d)
    per = -(-n_docs // n_files)
    base = 1_600_000_000
    for i in range(n_files):
        p = os.path.join(d, f"part-{i:05d}.parquet")
        _write(table.slice(i * per, per), p)
        os.utime(p, (base + 10 * i, base + 10 * i))
    return n_docs


# --- tables for the query lanes ---------------------------------------


def lane_tables(seed: int, workload: str, out_dir: str, n_docs: int, n_vec: int) -> None:
    """The two tables the kept lanes read, with the testdata's schemas
    (TESTDATA.md): ``documents`` (image_tiff_decode) and ``embeddings``
    (embed_pca_power): 64-d unit vectors around 10 labelled centres."""
    rng = _rng(seed, "lanes")
    documents = _documents_table(rng, 0, _doc_texts(rng, n_docs, REUSE[workload]))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_vec), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    _write(documents, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
