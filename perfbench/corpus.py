"""Seeded corpus generators for the benchmark workloads.

Every corpus is a ``documents``-shaped parquet file (``doc_id, text, lang,
source, n_chars`` -- the fixture schema the operators are written
against) plus a ground-truth file that the correctness checks read. The
pipeline under test sees only the parquet file, through ``data_loader:
path:``; the ground truth never leaves the benchmark.

Generation is one process, numpy + pyarrow, driven only by ``seed`` and
``n_docs``. Outputs are cached on disk under ``<cache_dir>/<kind>-s<seed>-
n<n_docs>/`` so a repeated run with the same seed and size skips it.

Each knob below carries the reason it has the value it has.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- shared vocabulary -----------------------------------------------------

# Large enough that two independent documents share almost no 3-word
# shingle (so near-dup clusters never merge by accident), small enough
# that Zipf-weighted text still repeats common words like real prose.
VOCAB_SIZE = 20_000
# Zipf offset: flattens the head so no single word dominates a document.
ZIPF_OFFSET = 20.0
# Word lengths 3-9 letters: mean about 6, close to English prose, which
# puts the mean document near 7 bytes per word.
WORD_LEN = (3, 10)

# The url_filter weighted word list (operators/filters.py
# DEFAULT_WORD_WEIGHTS). The vocabulary excludes these so that only the
# generator decides which documents hit the regex scorer.
SPAM_WEIGHTS = {
    "casino": 1.0,
    "poker": 0.9,
    "spam": 0.8,
    "hash": 0.5,
    "vector": 0.4,
    "stream": 0.3,
}
SCORE_THRESHOLD = 0.5  # url_filter default

# --- neardup_dedup gate: url_filter -> text_length_filter -----------------

# The gate is BASELINE's text pipeline (URLFilter -> TextLengthFilter),
# which passed 98.1% and then 96.4% of 1M CommonCrawl records. The
# url_filter drops here add up to about 1.9%: blocklisted sources plus
# documents carrying one strong spam word plus documents carrying both
# weak words.
N_SOURCES = 40
BLOCKED_SOURCES = ("spamfarm0", "spamfarm1", "spamfarm2")
BLOCKED_SHARE = 0.01
# One strong spam word (score >= 0.5: dropped).
STRONG_SPAM_SHARE = 0.008
STRONG_WORDS = ("casino", "poker", "spam", "hash")
# Both weak words (0.32 + 0.2 = 0.52: dropped), the one case where the
# sum term, not the max term, decides.
PAIR_SPAM_SHARE = 0.001
# One weak word ("vector" 0.453 or "stream" 0.34: kept), so the scorer's
# sub-threshold branch does real work on passing rows.
WEAK_SPAM_SHARE = 0.03
WEAK_WORDS = ("vector", "stream")
# Documents forced to 2-5 words, under the 50-char minimum: the length
# filter's 3.6% drop in the same BASELINE run.
SHORT_SHARE = 0.036
MIN_CHARS, MAX_CHARS = 50, 10_000

# --- image_curate corpus ----------------------------------------------------

# Captions: 8-24 words. fake_image_bytes_refiner hashes the text into a
# 64-byte payload, so caption length only sets the md5 input size.
CAPTION_WORDS = (8, 25)
# Share of rows whose phash goes on the inline blocklist: enough rows
# that phash_blocklist_filter really drops some, few enough that the
# YAML stays small (one hex string per row).
BLOCKLIST_SHARE = 0.005
IMAGE_MIN_SIDE = 64  # image_quality_filter params in the workload YAML
IMAGE_MAX_ARTIFACTS = 1.0
IMAGE_MIN_ENTROPY = 1.0

# --- neardup_dedup corpus ---------------------------------------------------

# Duplicate traffic follows the sf0.1 ``documents`` test fixture (5,000
# documents), measured with the
# operators' own definitions (case and whitespace normalized for exact
# copies; 3-word-shingle Jaccard >= 0.7 for near copies):
# - 8 rows (0.16%) are exact copies of another row;
EXACT_DUP_SHARE = 0.0016
# - 468 rows (9.4%) sit in 232 near-dup clusters: 229 pairs, 2 triples
#   and 1 cluster of four;
NEAR_SHARE = 0.094
NEAR_CLUSTER_SIZES = {2: 229, 3: 2, 4: 1}
# - every near pair differs by one inserted or deleted word (Jaccard
#   0.94-0.99), so each variant is its cluster's base with one word
#   inserted or deleted;
# - documents run 19, 54 and 90 words at the 10th, 50th and 90th
#   percentile; uniform 10-99 words gives 19, 55 and 91.
NEAR_WORDS = (10, 100)
# The fixture is itself generated, so these are the fixture's rates, not
# rates measured on crawled pages.
NEAR_JACCARD = 0.7
NEAR_SHINGLE_K = 3


# The corpus is written as this many parquet files, like a sharded crawl
# dump; with one file Spark reads a small corpus as a single split and
# the whole pipeline runs on one core.
N_FILES = 4


@dataclass(frozen=True)
class Corpus:
    """A generated input: the parquet the pipeline reads and the ground
    truth the checker compares against."""

    n_docs: int
    parquet: str
    truth: dict


def id_set_hash(ids) -> str:
    """Order-free fingerprint of a set of int64 ids."""
    arr = np.unique(np.asarray(ids, dtype=np.int64))
    return hashlib.sha256(arr.tobytes()).hexdigest()[:16]


def _vocabulary(rng: np.random.Generator) -> pa.Array:
    n_cand = VOCAB_SIZE * 2
    lens = rng.integers(WORD_LEN[0], WORD_LEN[1], n_cand)
    letters = rng.integers(0, 26, int(lens.sum()), dtype=np.uint8) + ord("a")
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.StringArray.from_buffers(
        n_cand, pa.py_buffer(offsets.tobytes()), pa.py_buffer(letters.tobytes())
    ).to_numpy(zero_copy_only=False)
    _, first = np.unique(words, return_index=True)
    keep = [w for w in words[np.sort(first)] if w not in SPAM_WEIGHTS]
    return pa.array(keep[:VOCAB_SIZE] + list(SPAM_WEIGHTS), pa.string())


def _zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB_SIZE) + ZIPF_OFFSET)
    return rng.choice(VOCAB_SIZE, size=n, p=p / p.sum()).astype(np.int32)


def _spam_id(word: str) -> int:
    return VOCAB_SIZE + list(SPAM_WEIGHTS).index(word)


def _join(vocab: pa.Array, tokens: np.ndarray, lens: np.ndarray) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = vocab.take(pa.array(tokens))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def url_score(words: set[str]) -> float:
    """url_filter's word score, with the same double arithmetic and the
    same summation order as ``operators.filters.word_score``."""
    matched = [wt if w in words else 0.0 for w, wt in SPAM_WEIGHTS.items()]
    total = matched[0]
    for m in matched[1:]:
        total = total + m
    return 0.8 * max(matched) + min(total / 3.0, 0.2)


def _table(ids, texts, sources, rng) -> pa.Table:
    n = len(ids)
    langs = np.array(["en", "es", "fr", "de", "zh"])[rng.integers(0, 5, n)]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pc.cast(pc.utf8_length(texts), pa.int64()),
        }
    )


def _sources(rng: np.random.Generator, n: int) -> np.ndarray:
    src = np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str))
    blocked = rng.random(n) < BLOCKED_SHARE
    src[blocked] = np.array(BLOCKED_SOURCES)[rng.integers(0, len(BLOCKED_SOURCES), blocked.sum())]
    return src.astype(object)


def fake_image_payload(text: str) -> bytes:
    """``multimodal.fake_image_bytes`` in Python: unhex of four chained
    md5 hex digests of the text -- 64 bytes."""
    h = hashlib.md5(text.encode()).hexdigest()
    parts = [h] + [hashlib.md5((h + s).encode()).hexdigest() for s in "123"]
    return bytes.fromhex("".join(parts))


def image_expectation(text: str) -> dict:
    """Every column value the image pipeline should give one row,
    recomputed with the package's pure-Python kernels."""
    from webscale_multimodal_datapipeline_spark.operators.multimodal import (
        decode_image_meta_py,
        phash_py,
        resize_pool_py,
        technical_quality_py,
    )

    b = fake_image_payload(text)
    w, h, size, fmt = decode_image_meta_py(b)
    artifacts, entropy = technical_quality_py(b)
    return {
        "image_width": w,
        "image_height": h,
        "image_file_size_bytes": size,
        "image_format": fmt,
        "image_compression_artifacts": artifacts,
        "image_information_entropy": entropy,
        "phash": phash_py(b),
        "image_resized_bytes": resize_pool_py(b).hex(),
    }


def image_passes(e: dict, blocklist: set[str]) -> bool:
    return (
        e["phash"] not in blocklist
        and e["image_width"] >= IMAGE_MIN_SIDE
        and e["image_height"] >= IMAGE_MIN_SIDE
        and e["image_compression_artifacts"] <= IMAGE_MAX_ARTIFACTS
        and e["image_information_entropy"] >= IMAGE_MIN_ENTROPY
    )


def gen_image(seed: int, n: int) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng)
    lens = rng.integers(*CAPTION_WORDS, n)
    texts = _join(vocab, _zipf_tokens(rng, int(lens.sum())), lens)
    ids = np.arange(n, dtype=np.int64)
    table = _table(ids, texts, _sources(rng, n), rng)
    # Ground truth over every row with the pure-Python kernels. Only the
    # width/height/phash fields decide survival on 64-byte payloads, but
    # the full kernel set runs so the count check uses the same spec as
    # the sampled value check.
    py_texts = texts.to_pylist()
    exp = [image_expectation(t) for t in py_texts]
    picked = rng.choice(n, max(1, int(n * BLOCKLIST_SHARE)), replace=False)
    blocklist = sorted({exp[i]["phash"] for i in picked})
    bl = set(blocklist)
    survivors = ids[np.array([image_passes(e, bl) for e in exp])]
    truth = {
        "n_in": n,
        "n_out": int(survivors.size),
        "id_hash": id_set_hash(survivors),
        "blocklist": blocklist,
    }
    return table, truth


def _shingles(tokens, k: int = NEAR_SHINGLE_K) -> set:
    """``TX.word_shingles`` over token ids (the vocabulary words are
    distinct, so equal id shingles are equal word shingles)."""
    t = tuple(int(x) for x in tokens)
    if len(t) < k:
        return {t}
    return {t[i : i + k] for i in range(len(t) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _one_word_edit(rng: np.random.Generator, base: np.ndarray) -> np.ndarray:
    """``base`` with one word inserted or deleted at a random position."""
    if rng.random() < 0.5:
        return np.insert(base, rng.integers(0, base.size + 1), _zipf_tokens(rng, 1))
    return np.delete(base, rng.integers(0, base.size))


def _inject_spam(rng, tokens, starts, lens, rows: np.ndarray, n: int) -> dict[int, set[str]]:
    """Put spam words into some of ``rows`` (row indices), at the shares
    above taken over all ``n`` rows. Returns the words each row got."""
    u = rng.random(rows.size) * rows.size / n  # shares of n, drawn over rows
    edges = np.cumsum([STRONG_SPAM_SHARE, PAIR_SPAM_SHARE, WEAK_SPAM_SHARE])
    injected: dict[int, set[str]] = {}
    for i, cls in zip(rows[u < edges[-1]], np.searchsorted(edges, u[u < edges[-1]], side="right")):
        first, last = starts[i], starts[i] + lens[i] - 1
        if cls == 1:
            words = ("vector", "stream")
            tokens[first], tokens[last] = _spam_id(words[0]), _spam_id(words[1])
        else:
            choices = STRONG_WORDS if cls == 0 else WEAK_WORDS
            words = (choices[rng.integers(0, len(choices))],)
            tokens[rng.integers(first, last + 1)] = _spam_id(words[0])
        injected[int(i)] = set(words)
    return injected


def gen_neardup(seed: int, n: int) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng)
    rows: list[np.ndarray] = []  # token ids per planted row
    cluster: list[int] = []  # near cluster per row, -1 outside clusters
    group: list[int] = []  # exact-dup group per row, -1 outside groups
    style: list[int] = []  # 0 original, 1 upper-case copy, 2 spaced copy
    sizes = np.array(list(NEAR_CLUSTER_SIZES))
    size_p = np.array(list(NEAR_CLUSTER_SIZES.values()), dtype=float)
    n_clusters = 0
    while len(rows) < int(n * NEAR_SHARE):
        base = _zipf_tokens(rng, int(rng.integers(*NEAR_WORDS)))
        for m in range(int(rng.choice(sizes, p=size_p / size_p.sum()))):
            rows.append(_one_word_edit(rng, base) if m else base)
            cluster.append(n_clusters)
            group.append(-1)
            style.append(0)
        n_clusters += 1
    # Exact copies come in pairs (an original and one copy), as in the
    # fixture; the copy differs in case or spacing, which
    # text_exact_dedup normalizes away.
    n_groups = 0
    while n_groups < int(n * EXACT_DUP_SHARE):
        base = _zipf_tokens(rng, int(rng.integers(*NEAR_WORDS)))
        rows += [base, base]
        cluster += [-1, -1]
        group += [n_groups, n_groups]
        style += [0, int(rng.integers(1, 3))]
        n_groups += 1
    rows, cluster, group, style = rows[:n], cluster[:n], group[:n], style[:n]
    n_single = n - len(rows)
    single_lens = rng.integers(*NEAR_WORDS, n_single)
    short = rng.random(n_single) < SHORT_SHARE * n / max(1, n_single)
    single_lens[short] = rng.integers(2, 6, short.sum())
    lens = np.concatenate([[r.size for r in rows], single_lens]).astype(np.int64)
    tokens = np.concatenate(rows + [_zipf_tokens(rng, int(single_lens.sum()))])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # Spam goes into documents outside the planted groups only, so a
    # spam word never breaks a planted duplicate.
    injected = _inject_spam(rng, tokens, starts, lens, np.arange(len(rows), n), n)
    cluster = np.array(cluster + [-1] * n_single)
    group = np.array(group + [-1] * n_single)
    style = np.array(style + [0] * n_single)
    texts = _join(vocab, tokens, lens).to_numpy(zero_copy_only=False)
    for i in np.flatnonzero(style == 1):
        texts[i] = texts[i].upper()  # normalize_text lowercases it back
    for i in np.flatnonzero(style == 2):
        texts[i] = texts[i].replace(" ", "  ")  # collapsed back to one space
    # Shuffled ids, so the min-id winner of a group sits anywhere in it.
    ids = rng.permutation(n).astype(np.int64)
    table = _table(ids, pa.array(texts, pa.string()), _sources(rng, n), rng)

    # The gate: url_filter, then text_length_filter.
    url_ok = ~np.isin(table.column("source").to_numpy(zero_copy_only=False), BLOCKED_SOURCES)
    for i, words in injected.items():
        url_ok[i] &= url_score(words) < SCORE_THRESHOLD
    n_chars = table.column("n_chars").to_numpy()
    alive = url_ok & (n_chars >= MIN_CHARS) & (n_chars <= MAX_CHARS)
    gate = {"url_dropped": int((~url_ok).sum()), "length_dropped": int((url_ok & ~alive).sum())}
    in_group = alive & (group >= 0)
    winner = {}
    for i in np.flatnonzero(in_group):
        winner[group[i]] = min(winner.get(group[i], ids[i]), ids[i])
    exact_dropped = [int(ids[i]) for i in np.flatnonzero(in_group) if ids[i] != winner[group[i]]]
    alive[np.isin(ids, exact_dropped)] = False
    # Near clusters: a member is dropped when a smaller-id live member of
    # its cluster is within the Jaccard threshold.
    members: dict[int, list[int]] = {}
    for i in np.flatnonzero(alive & (cluster >= 0)):
        members.setdefault(int(cluster[i]), []).append(int(i))
    near_dropped = []
    for mem in members.values():
        sh = {i: _shingles(tokens[starts[i] : starts[i] + lens[i]]) for i in mem}
        near_dropped += [
            int(ids[i])
            for i in mem
            if any(ids[j] < ids[i] and jaccard(sh[i], sh[j]) >= NEAR_JACCARD for j in mem)
        ]
    alive[np.isin(ids, near_dropped)] = False
    truth = {
        "n_in": n,
        "kept": sorted(int(x) for x in ids[alive]),
        "exact_dropped": sorted(exact_dropped),
        "near_dropped": sorted(near_dropped),
        "gate": gate,
        "n_clusters": n_clusters,
        "n_exact_groups": n_groups,
        "blocklist": list(BLOCKED_SOURCES),
    }
    # Scatter the rows: a crawl does not store near-duplicates adjacently.
    return table.take(rng.permutation(n)), truth


GENERATORS = {"image": gen_image, "neardup": gen_neardup}


def load_or_generate(kind: str, seed: int, n_docs: int, cache_dir: str) -> Corpus:
    """Generate (or reuse) the corpus ``kind`` for ``seed`` and ``n_docs``."""
    d = os.path.join(cache_dir, f"{kind}-s{seed}-n{n_docs}")
    parquet = os.path.join(d, "documents")
    truth_path = os.path.join(d, "truth.json")
    if not os.path.exists(truth_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table, truth = GENERATORS[kind](seed, n_docs)
        os.makedirs(os.path.join(tmp, "documents"))
        step = -(-n_docs // N_FILES)
        for k in range(N_FILES):
            part = table.slice(k * step, step)
            pq.write_table(part, os.path.join(tmp, "documents", f"part-{k:05d}.parquet"))
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(truth_path) as f:
        truth = json.load(f)
    return Corpus(n_docs, os.path.abspath(parquet), truth)
