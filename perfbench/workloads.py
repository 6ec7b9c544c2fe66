"""The benchmark's workloads: one YAML pipeline each, the corpus it reads,
and the check that its written output is correct.

A workload names its corpus kind and size; ``yaml`` renders the
config a user would pass to ``cli run -c``; ``check`` reads what the
writer left on disk (pyarrow, outside the timed path) and returns the
list of problems -- empty when the output matches the ground truth.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import corpus as C

# Near-dup recall bound: banded LSH (4 bands x 3 rows) makes a pair of
# Jaccard j a candidate with probability 1 - (1 - j^3)^4 under ideal
# hashes, so some planted near-dups survive: about 1.6% of the expected
# drops in theory for one-word edits of 10-99-word documents, and
# 0.8-6.1% (mean 3.3%) over seeds 11-30 when the operator's 12 affine
# permutations of one md5, which are correlated, are emulated.
# At most this share of the expected drops may survive.
NEAR_MISS_MAX = 0.10
# Rows of the image output recomputed with the pure-Python kernels.
IMAGE_SAMPLE = 64
# The quality columns are FloatType; the kernels compute in float64.
FLOAT_RTOL = 1e-6


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # corpus generator
    n_docs: int
    ops: tuple[str, ...]  # operator names, in plan order
    yaml: Callable[[C.Corpus, str], str]
    check: Callable[[C.Corpus, str, int], list[str]]


def output_dir(out: str) -> str:
    return os.path.join(out, "output")


def rejected_dir(out: str) -> str:
    return os.path.join(out, "rejected")


def read_ids(path: str) -> np.ndarray:
    return pq.read_table(path, columns=["doc_id"]).column("doc_id").to_numpy()


def _check_count_and_hash(ids: np.ndarray, truth: dict) -> list[str]:
    errs = []
    if ids.size != truth["n_out"]:
        errs.append(f"survivors: {ids.size} rows, expected {truth['n_out']}")
    if np.unique(ids).size != ids.size:
        errs.append("survivors: duplicate doc_id")
    if C.id_set_hash(ids) != truth["id_hash"]:
        errs.append("survivors: id-set hash differs from the ground truth")
    return errs


def _image_yaml(c: C.Corpus, out: str) -> str:
    hashes = ", ".join(f'"{h}"' for h in c.truth["blocklist"])
    return f"""\
# The examples/image_pipeline.yaml chain over the generated captions.
data_loader:
  path: {c.parquet}
stages:
  - name: decode
    operators:
      - type: fake_image_bytes_refiner
      - type: image_metadata_refiner
      - type: technical_quality_refiner
  - name: safety
    operators:
      - type: phash_blocklist_filter
        params:
          hashes: [{hashes}]
  - name: filter
    operators:
      - type: image_quality_filter
        params:
          min_width: {C.IMAGE_MIN_SIDE}
          min_height: {C.IMAGE_MIN_SIDE}
          max_compression_artifacts: {C.IMAGE_MAX_ARTIFACTS}
          min_entropy: {C.IMAGE_MIN_ENTROPY}
  - name: transform
    operators:
      - type: jpeg_scrub_refiner
      - type: image_resize_refiner
collect_rejected: true
data_writer:
  path: {output_dir(out)}
"""


IMAGE_COLUMNS = (
    "image_width",
    "image_height",
    "image_file_size_bytes",
    "image_format",
    "image_compression_artifacts",
    "image_information_entropy",
    "image_resized_bytes",
)


def check_image(c: C.Corpus, out: str, seed: int) -> list[str]:
    table = pq.read_table(output_dir(out), columns=["doc_id", "text", *IMAGE_COLUMNS])
    ids = table.column("doc_id").to_numpy()
    errs = _check_count_and_hash(ids, c.truth)
    if not ids.size:
        return errs
    rng = np.random.default_rng([seed, 7])
    order = np.argsort(ids)  # sample by id, not by file order
    rows = table.take(order[rng.choice(ids.size, min(IMAGE_SAMPLE, ids.size), replace=False)])
    for row in rows.to_pylist():
        want = C.image_expectation(row["text"])
        for col in IMAGE_COLUMNS:
            got = row[col].hex() if isinstance(row[col], bytes) else row[col]
            ok = (
                abs(got - want[col]) <= FLOAT_RTOL * max(1.0, abs(want[col]))
                if isinstance(want[col], float)
                else got == want[col]
            )
            if not ok:
                errs.append(f"doc {row['doc_id']}: {col}={got!r}, kernel gives {want[col]!r}")
    return errs[:5]


def _neardup_yaml(c: C.Corpus, out: str) -> str:
    return f"""\
# BASELINE's text pipeline (URLFilter -> TextLengthFilter) as the gate,
# then exact dedup and MinHash-LSH near-dup removal; rejected rows are
# written beside the output.
data_loader:
  path: {c.parquet}
stages:
  - name: gate
    operators:
      - type: url_filter
        params:
          blocklist: [{", ".join(c.truth["blocklist"])}]
      - type: text_length_filter
        params: {{min_length: {C.MIN_CHARS}, max_length: {C.MAX_CHARS}}}
  - name: dedup
    operators:
      - type: text_exact_dedup
      - type: minhash_lsh_dedup
        params: {{jaccard_threshold: {C.NEAR_JACCARD}}}
collect_rejected: true
data_writer:
  path: {output_dir(out)}
  rejected_path: {rejected_dir(out)}
"""


def check_neardup(c: C.Corpus, out: str, seed: int) -> list[str]:
    t = c.truth
    ids = read_ids(output_dir(out))
    got = set(ids.tolist())
    errs = []
    if len(got) != ids.size:
        errs.append("survivors: duplicate doc_id")
    missing = set(t["kept"]) - got
    if missing:
        errs.append(f"{len(missing)} rows that should survive are gone (false drop or cross-cluster merge)")
    kept_dups = set(t["exact_dropped"]) & got
    if kept_dups:
        errs.append(f"{len(kept_dups)} planted exact duplicates survived")
    near = set(t["near_dropped"])
    missed = near & got
    if len(missed) > NEAR_MISS_MAX * len(near):
        errs.append(f"{len(missed)} of {len(near)} near-duplicates survived (bound {NEAR_MISS_MAX:.0%})")
    extra = got - set(t["kept"]) - near
    if extra:
        errs.append(f"{len(extra)} rows survived that the gate or exact dedup drops")
    rejected = read_ids(rejected_dir(out))
    if set(rejected.tolist()) & got:
        errs.append("rows are both in the output and in the rejected output")
    if rejected.size + ids.size != t["n_in"]:
        errs.append(f"output {ids.size} + rejected {rejected.size} rows != input {t['n_in']}")
    return errs


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "image_curate",
            "image",
            4_000,
            (
                "fake_image_bytes_refiner",
                "image_metadata_refiner",
                "technical_quality_refiner",
                "phash_blocklist_filter",
                "image_quality_filter",
                "jpeg_scrub_refiner",
                "image_resize_refiner",
            ),
            _image_yaml,
            check_image,
        ),
        Workload(
            "neardup_dedup",
            "neardup",
            3_000,
            ("url_filter", "text_length_filter", "text_exact_dedup", "minhash_lsh_dedup"),
            _neardup_yaml,
            check_neardup,
        ),
    )
}
