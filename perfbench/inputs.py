"""Seeded, cached input generation for the benchmark.

Inputs are generated by ``anomalydetection_spark.fixtures`` without a
JVM: the fixture functions build their tables as
``spark.range(...).mapIn{Arrow,Pandas}(gen, schema)``, so a stand-in
session that records that call hands back the per-batch generator,
which is then driven over plain Arrow id batches. Rows are a pure
function of (seed, row id), so the rows equal what Spark would
produce, and the measured JVM is still fresh when the first timed
operation runs.

The cache key is (seed, sizes, sha256 of fixtures.py), so editing the
generator regenerates. Generation is never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 64
ID_BATCH = 50_000
HIST_BINS = 64
HIST_BIN_WIDTH = 8


class _CaptureSession:
    """Records ``range(start, end)`` and the function handed to
    ``mapInArrow`` / ``mapInPandas``."""

    def range(self, start, end, numPartitions=None):  # noqa: N803
        self.bounds = (start, end)
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802
        return ("arrow", fn, self.bounds)

    def mapInPandas(self, fn, schema):  # noqa: N802
        return ("pandas", fn, self.bounds)


def _drive(captured) -> pa.Table:
    """Run a captured generator over its id range, in Arrow batches."""
    kind, fn, (lo, hi) = captured
    out = []
    for a in range(lo, hi, ID_BATCH):
        ids = np.arange(a, min(a + ID_BATCH, hi), dtype=np.int64)
        if kind == "arrow":
            batch = pa.RecordBatch.from_arrays([pa.array(ids)], names=["id"])
            out.extend(fn(iter([batch])))
        else:
            import pandas as pd

            for pdf in fn(iter([pd.DataFrame({"id": ids})])):
                out.append(pa.RecordBatch.from_pandas(pdf, preserve_index=False))
    return pa.Table.from_batches(out)


def documents_table(n_docs: int, seed: int, **kw) -> pa.Table:
    from anomalydetection_spark import fixtures

    return _drive(fixtures.generate_documents(_CaptureSession(), n_docs, seed=seed, **kw))


def media_catalog_table(n_media: int, seed: int) -> pa.Table:
    from anomalydetection_spark import fixtures

    return _drive(fixtures.generate_media_catalog(_CaptureSession(), n_media, seed=seed))


def baseline_histogram(docs: pa.Table) -> pa.Table:
    """The stored drift baseline: (kind, bucket, count) over ``docs`` in
    the binning ``operators.stats.length_histogram`` uses (bucket =
    min(len(text) // 8, 63); null kind -> "__null__")."""
    import pyarrow.compute as pc

    spans = docs.column("spans").combine_chunks().flatten()
    kinds = spans.field("kind").fill_null("__null__").to_numpy(zero_copy_only=False)
    lens = pc.utf8_length(spans.field("text").fill_null("")).to_numpy()
    bucket = np.minimum(lens // HIST_BIN_WIDTH, HIST_BINS - 1).astype(np.int32)
    keys, counts = np.unique(
        np.rec.fromarrays([kinds.astype(str), bucket]), return_counts=True
    )
    return pa.table(
        {
            "kind": pa.array([k[0] for k in keys], pa.string()),
            "bucket": pa.array([int(k[1]) for k in keys], pa.int32()),
            "count": pa.array(counts.astype(np.int64), pa.int64()),
        }
    )


def write_by_partition(docs: pa.Table, out_dir: str) -> None:
    """One parquet file per partition_id: the manifest's unit of change
    and the stream's unit of arrival."""
    os.makedirs(out_dir, exist_ok=True)
    pid = docs.column("partition_id").to_numpy()
    order = np.argsort(pid, kind="stable")
    docs, pid = docs.take(pa.array(order)), pid[order]
    bounds = np.flatnonzero(np.diff(pid)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(pid)]):
        pq.write_table(docs.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{int(pid[lo]):03d}.parquet"))


def corpus_meta(docs: pa.Table, catalog: pa.Table) -> dict:
    """Facts the output checks compare against, taken from the
    generated files rather than from the engine under test."""
    import pyarrow.compute as pc

    spans = docs.column("spans").combine_chunks()
    refs = spans.flatten().field("media_ref")
    owner = pc.list_parent_indices(spans).to_numpy()
    keys = pc.unique(catalog.column("media_ref").drop_null())
    orphan = pc.and_(pc.is_valid(refs), pc.invert(pc.is_in(refs, value_set=keys)))
    orphan = orphan.to_numpy(zero_copy_only=False)
    return {
        "n_docs": docs.num_rows,
        "partitions": sorted(set(docs.column("partition_id").to_pylist())),
        "spans": len(refs),
        "catalog_keys": len(keys),
        "orphan_docs": int(len(np.unique(owner[orphan]))),
    }


def _write_meta(d: str, meta: dict) -> None:
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)


def _read_meta(d: str) -> dict:
    with open(os.path.join(d, "meta.json")) as f:
        return json.load(f)


def _fixtures_digest() -> str:
    from anomalydetection_spark import fixtures

    with open(fixtures.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def cached(cache_root: str, name: str, params: dict, build) -> str:
    """Directory holding ``build(dir)``'s output for (name, params,
    fixtures digest); built once, published by an atomic rename."""
    key = json.dumps({"params": params, "fixtures": _fixtures_digest()}, sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    final = os.path.join(cache_root, f"{name}-{digest}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(key)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def docs_inputs(cache_root: str, n_docs: int, seed: int, n_media: int) -> dict:
    """Corpus (one dir of per-partition files), media catalog and a
    stored baseline histogram taken from an independent corpus of the
    same generator (seed + 1)."""
    params = {"n_docs": n_docs, "seed": seed, "n_media": n_media,
              "n_partitions": N_PARTITIONS}

    def build(d):
        docs = documents_table(n_docs, seed, n_media=n_media, n_partitions=N_PARTITIONS)
        cat = media_catalog_table(n_media, seed)
        write_by_partition(docs, os.path.join(d, "docs"))
        pq.write_table(cat, os.path.join(d, "catalog.parquet"))
        _write_meta(d, corpus_meta(docs, cat))
        ref = documents_table(min(n_docs // 4, 20_000), seed + 1, n_media=n_media,
                              n_partitions=N_PARTITIONS)
        pq.write_table(baseline_histogram(ref), os.path.join(d, "baseline.parquet"))

    d = cached(cache_root, "docs", params, build)
    return {
        "root": d,
        "docs": os.path.join(d, "docs"),
        "catalog": os.path.join(d, "catalog.parquet"),
        "baseline": os.path.join(d, "baseline.parquet"),
        "n_docs": n_docs,
        "seed": seed,
        "meta": _read_meta(d),
    }


def backlog(cache_root: str, base: dict, n_files: int) -> dict:
    """The last ``n_files`` per-partition files of ``base``'s corpus in
    a directory of their own: a prewritten stream backlog."""
    names = sorted(os.listdir(base["docs"]))[-n_files:]

    def build(d):
        os.makedirs(os.path.join(d, "docs"))
        for name in names:
            shutil.copyfile(os.path.join(base["docs"], name), os.path.join(d, "docs", name))

    d = cached(cache_root, "backlog", {"base": base["root"], "n_files": n_files}, build)
    parts = [int(n[5:8]) for n in names]
    rows = sum(pq.read_metadata(os.path.join(d, "docs", n)).num_rows for n in names)
    return {"docs": os.path.join(d, "docs"), "partitions": parts, "n_docs": rows}


def changed_corpus(cache_root: str, base: dict, k: int) -> dict:
    """``base``'s corpus with ``k`` seeded partitions changed: every
    doc of a changed partition gets one extra text span appended, so
    its snapshot hash moves while its planted violations stay."""
    params = {"base": base["root"], "k": k}
    rng = np.random.default_rng(base["seed"])
    changed = sorted(int(p) for p in rng.choice(N_PARTITIONS, size=k, replace=False))

    def build(d):
        out = os.path.join(d, "docs")
        os.makedirs(out)
        for name in sorted(os.listdir(base["docs"])):
            src = os.path.join(base["docs"], name)
            if int(name[5:8]) not in changed:
                shutil.copyfile(src, os.path.join(out, name))
                continue
            t = pq.read_table(src)
            spans = t.column("spans").to_pylist()
            for s in spans:
                if s:
                    s.append({"kind": "text", "text": "tok0 appended",
                              "media_ref": None, "offset": 10 * len(s)})
            t = t.set_column(
                t.schema.get_field_index("spans"), "spans",
                pa.array(spans, type=t.schema.field("spans").type),
            )
            pq.write_table(t, os.path.join(out, name))

    d = cached(cache_root, "changed", params, build)
    return {"docs": os.path.join(d, "docs"), "changed": changed}
