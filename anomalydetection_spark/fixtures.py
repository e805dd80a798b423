"""Deterministic, distributed fixture generators (FIXTURES.md).

The reference ships no test data (its sample log was stripped —
/root/reference/.MISSING_LARGE_BLOBS:1), so fixtures are generated.
Determinism strategy: every field is a pure function of (seed, row id)
via a vectorized splitmix64 hash — independent of partitioning, batch
size, and executor count, so the same (seed, n) always yields the same
table on 1 core or 1000 executors. No wall-clock anywhere.

Generation is fully distributed: ``spark.range(n)`` → ``mapInPandas``
emits flat span rows (numpy-vectorized), then span→document assembly is
an ordered ``collect_list`` — which doubles as a standing test of the
span-sequence equality invariant (SURVEY.md §2.4 C1).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — uint64 in, uint64 out."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
        return (z ^ (z >> np.uint64(31))) & _MASK


def _h(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Hash stream ``stream`` for row ``ids`` under ``seed``."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        x ^= np.uint64(
            (seed * 0xD1B54A32D192ED03 + stream * 0x8CB92BA72F3D8DD7)
            & 0xFFFFFFFFFFFFFFFF
        )
    return _splitmix64(x)


def _u01(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    return _h(ids, seed, stream).astype(np.float64) / np.float64(2**64)


KINDS = np.array(["text", "image", "audio", "table"])

# Planted-violation moduli — tests recompute expected sets from these.
DUP_MOD = 97          # ~1% duplicate doc_id
EMPTY_SPANS_MOD = 331  # ~0.3% empty spans array
NULL_SPANS_MOD = 677   # ~0.15% null spans
NONMONO_MOD = 499      # ~0.2% non-monotone offsets
NULL_KIND_MOD = 200    # ~0.5% null span kind
INCOHERENT_MOD = 300   # ~0.33% spans violate kind<->media_ref coherence
MISSING_REF_MOD = 11   # media index m is absent from catalog iff m % 11 == 7
HOT_REF_PROB = 0.20    # hot media_ref m0000000 share of media spans


def generate_documents(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    n_partitions: int = 16,
    n_media: int = 10_000,
    max_spans: int = 16,
    text_mean_len: float = 40.0,
    text_frac: float = 0.80,
    plant_violations: bool = True,
    hot_partition: bool = True,
) -> DataFrame:
    """Interleaved text+media documents table (DOCUMENTS_SCHEMA).

    ``text_mean_len`` / ``text_frac`` are the drift levers: the drift
    fixture regenerates with mean +25% and text share 80%→60%
    (FIXTURES.md §3).

    ZERO-SHUFFLE generation (round 5): spans are born with their doc,
    so the span→document assembly happens INSIDE each Arrow batch
    (vectorized ListArray/StructArray construction, ``mapInArrow``) —
    the earlier flat-emit + groupBy(_rid) shape re-shuffled the entire
    corpus to group rows that were already adjacent, which at 160M
    docs meant ~50 GB of shuffle files before the first output byte
    (it exhausted the sandbox disk; at 10^12 docs it would be an
    absurd cluster-wide reshuffle of freshly generated data). Values
    are bit-identical to the old path: same per-id derivations, spans
    ordered by span_idx, empty docs → [], null-marker docs → NULL.
    """
    import pyarrow as pa

    n_parts_gen = max(1, min(n_docs // 1000 + 1, 64))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            n = len(ids)
            if n == 0:
                continue
            uids = ids.astype(np.uint64)

            # --- doc-level fields ---
            doc_id = np.char.add("doc", ids.astype("U12"))
            if plant_violations:
                dup = (ids % DUP_MOD == 0) & (ids > 0)
                doc_id = np.where(
                    dup, np.char.add("doc", (ids - 1).astype("U12")), doc_id
                )

            hp = _h(uids, seed, 1)
            if hot_partition:
                # partition 0 absorbs the overflow band → ~9x a normal
                # partition's rows (exercises AQE skew + salting paths)
                pid = (hp % np.uint64(n_partitions + 8)).astype(np.int64)
                pid = np.where(pid >= n_partitions, 0, pid)
            else:
                pid = (hp % np.uint64(n_partitions)).astype(np.int64)

            n_spans = 1 + (_h(uids, seed, 2) % np.uint64(max_spans)).astype(np.int64)
            empty = np.zeros(n, dtype=bool)
            nulls = np.zeros(n, dtype=bool)
            nonmono = np.zeros(n, dtype=bool)
            if plant_violations:
                empty = ids % EMPTY_SPANS_MOD == 17
                nulls = ids % NULL_SPANS_MOD == 23
                nonmono = ids % NONMONO_MOD == 7
            n_spans = np.where(empty | nulls, 0, n_spans)

            # --- flat span rows (fully vectorized) ---
            doc_idx = np.repeat(np.arange(n), n_spans)
            span_idx = np.concatenate(
                [np.arange(k) for k in n_spans]
            ) if len(doc_idx) else np.array([], dtype=np.int64)
            sid = uids[doc_idx] * np.uint64(131) + span_idx.astype(np.uint64)

            ukind = _u01(sid, seed, 3)
            kind_code = np.select(
                [ukind < text_frac, ukind < text_frac + 0.15, ukind < text_frac + 0.175],
                [0, 1, 2],
                default=3,
            )
            kind = KINDS[kind_code].astype(object)
            if plant_violations:
                null_kind = _h(sid, seed, 4) % np.uint64(NULL_KIND_MOD) == 0
                kind = np.where(null_kind, None, kind)

            # media_ref: only for non-text spans; Zipf-ish hot key m0
            is_media = kind_code != 0
            um = _u01(sid, seed, 5)
            midx = (_h(sid, seed, 6) % np.uint64(n_media)).astype(np.int64)
            midx = np.where(um < HOT_REF_PROB, 0, midx)
            media_ref = np.char.add("m", np.char.zfill(midx.astype("U10"), 7))
            media_ref = np.where(is_media, media_ref.astype(object), None)
            if plant_violations:
                # kind<->media_ref coherence violations: a text span
                # gains the (always-cataloged) hot ref, a media span
                # loses its ref; null-kind spans are excluded (already
                # flagged by null_span_kind)
                incoh = _h(sid, seed, 9) % np.uint64(INCOHERENT_MOD) == 0
                incoh &= ~null_kind
                media_ref = np.where(
                    incoh & ~is_media, "m0000000", media_ref
                ).astype(object)
                media_ref = np.where(incoh & is_media, None, media_ref)

            # text: log-normal-ish token-repeat length per kind (drift lever)
            g = _u01(sid, seed, 7)
            tok = np.char.add("tok", (_h(sid, seed, 8) % np.uint64(5000)).astype("U6"))
            reps = np.maximum(
                1, (text_mean_len / 7.0 * np.exp(0.6 * (g * 2 - 1))).astype(np.int64)
            )
            reps = np.where(is_media, np.minimum(reps, 2), reps)
            text = pd.Series(np.char.add(tok, " ")).str.repeat(pd.Series(reps)).str.strip()
            text = text.where(~pd.Series(is_media), pd.Series(tok).radd("media:"))

            offset = (span_idx * 10).astype(np.int64)
            if plant_violations and nonmono.any():
                rev = nonmono[doc_idx]
                offset = np.where(
                    rev, (n_spans[doc_idx] - 1 - span_idx) * 10, offset
                )

            # --- in-batch span→document assembly (no shuffle): the
            # flat arrays are already ordered (doc ascending, span_idx
            # ascending via np.repeat/concatenate), so the docs' span
            # lists are contiguous value runs — exactly Arrow's list
            # layout. offsets = cumsum(n_spans); null-marker docs get
            # a validity-mask null (vs [] for empty docs).
            off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(n_spans, out=off[1:])
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(kind, type=pa.string(), from_pandas=True),
                    pa.array(
                        text.to_numpy(dtype=object),
                        type=pa.string(),
                        from_pandas=True,
                    ),
                    pa.array(
                        media_ref, type=pa.string(), from_pandas=True
                    ),
                    pa.array(offset.astype(np.int32), type=pa.int32()),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            spans = pa.ListArray.from_arrays(
                pa.array(off, type=pa.int32()),
                struct,
                mask=pa.array(nulls),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_id.astype(object), type=pa.string()),
                    spans,
                    pa.array(pid.astype(np.int32), type=pa.int32()),
                ],
                names=["doc_id", "spans", "partition_id"],
            )

    return spark.range(0, n_docs, numPartitions=n_parts_gen).mapInArrow(
        gen,
        schema=(
            "doc_id string,"
            " spans array<struct<kind string, text string,"
            " media_ref string, offset int>>,"
            " partition_id int"
        ),
    )


def generate_media_catalog(
    spark: SparkSession, n_media: int = 10_000, seed: int = 42
) -> DataFrame:
    """Referential target: refs m where m % 11 != 7 (≈9% intentionally
    missing → those are the planted referential violations)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            keep = ids % MISSING_REF_MOD != 7
            ids = ids[keep]
            uids = ids.astype(np.uint64)
            ref = np.char.add("m", np.char.zfill(ids.astype("U10"), 7))
            kind = KINDS[1 + (_h(uids, seed, 20) % np.uint64(3)).astype(np.int64)]
            size = (_h(uids, seed, 21) % np.uint64(10_000_000)).astype(np.int64)
            yield pd.DataFrame(
                {"media_ref": ref, "media_kind": kind, "size_bytes": size}
            )

    return spark.range(0, n_media, numPartitions=4).mapInPandas(
        gen, schema="media_ref string, media_kind string, size_bytes long"
    )


def expected_violation_doc_ids(
    n_docs: int, seed: int = 42, max_spans: int = 16
) -> dict[str, set[str]]:
    """Closed-form expected violation sets for a planted generation —
    the test oracle recomputes these without running the engine.

    Accounts for two generator interactions: (a) a planted-duplicate row
    i carries doc_id ``doc(i-1)``, so its other violations surface under
    that name; (b) reversing offsets of a 1-span doc is a no-op, so
    such docs are NOT non-monotone."""
    ids = np.arange(n_docs, dtype=np.int64)
    uids = ids.astype(np.uint64)
    dup = (ids % DUP_MOD == 0) & (ids > 0)
    names = np.where(
        dup, np.char.add("doc", (ids - 1).astype("U12")),
        np.char.add("doc", ids.astype("U12")),
    )
    n_spans = 1 + (_h(uids, seed, 2) % np.uint64(max_spans)).astype(np.int64)
    empty = ids % EMPTY_SPANS_MOD == 17
    nulls = ids % NULL_SPANS_MOD == 23
    nonmono = (ids % NONMONO_MOD == 7) & ~empty & ~nulls & (n_spans >= 2)
    # span-level coherence planting replayed per span (kind identity is
    # irrelevant to membership: a flagged text span gains a ref, a
    # flagged media span loses one — either direction violates)
    n_spans_eff = np.where(empty | nulls, 0, n_spans)
    doc_idx = np.repeat(np.arange(n_docs), n_spans_eff)
    span_idx = (
        np.concatenate([np.arange(k) for k in n_spans_eff if k])
        if n_spans_eff.sum()
        else np.array([], dtype=np.int64)
    )
    sid = uids[doc_idx] * np.uint64(131) + span_idx.astype(np.uint64)
    null_kind = _h(sid, seed, 4) % np.uint64(NULL_KIND_MOD) == 0
    incoh = (_h(sid, seed, 9) % np.uint64(INCOHERENT_MOD) == 0) & ~null_kind
    return {
        "uniqueness": set(names[dup].tolist()),
        "empty_spans": set(names[empty].tolist()),
        "null_spans": set(names[nulls].tolist()),
        "nonmono": set(names[nonmono].tolist()),
        "incoherent": set(names[doc_idx[incoh]].tolist()),
    }
