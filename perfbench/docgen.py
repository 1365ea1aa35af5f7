"""``sources.synthetic.generate_documents_iv``, value for value, without Spark.

The engine's generator is pure column expressions over Spark's
``xxhash64``; this module re-implements that hash (Spark's ``XXH64``) and
the same expressions in NumPy, and writes the table with pyarrow. The
benchmark's inputs thus cost no JVM start and no Spark job, and a
measured process never runs generation code before its cold job.
``test_smoke.py`` checks the rows against the engine's generator.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# constants and defaults of json_to_avro_schema_spark.sources.synthetic
N_HOT_PREFIXES = 3
HOT_SHARE_PCT = 30
N_PREFIXES = 64
N_MEDIA_ASSETS = 100_000
MAX_SPANS = 8
V_DUP_DOC_ID, V_NULL_SPANS, V_BAD_KIND, V_WRONG_FIELD, V_NON_MONOTONIC, V_DANGLING_REF = range(1, 7)

_U = np.uint64
P1, P2, P3, P4, P5 = (_U(x) for x in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5))
SPARK_SEED = _U(42)   # xxhash64's own seed
FILES = 16            # files of an unpartitioned table


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h):
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def hash_int(v, seed):
    """XXH64.hashInt: ``v`` int32 values, ``seed`` uint64."""
    h = seed + P5 + _U(4)
    h = h ^ ((np.asarray(v, dtype=np.int64).astype(np.uint64) & _U(0xFFFFFFFF)) * P1)
    return _fmix(_rotl(h, 23) * P2 + P3)


def hash_long(v, seed):
    """XXH64.hashLong: ``v`` int64 values, ``seed`` uint64."""
    h = seed + P5 + _U(8)
    h = h ^ (_rotl(np.asarray(v, dtype=np.int64).astype(np.uint64) * P2, 31) * P1)
    return _fmix(_rotl(h, 27) * P1 + P4)


def hash_bytes(b: bytes, seed):
    """XXH64.hashUnsafeBytes for inputs shorter than 32 bytes."""
    assert len(b) < 32
    h = seed + P5 + _U(len(b))
    off = 0
    while off + 8 <= len(b):
        k = _U(int.from_bytes(b[off:off + 8], "little"))
        h = h ^ (_rotl(k * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        off += 8
    if off + 4 <= len(b):
        h = h ^ (_U(int.from_bytes(b[off:off + 4], "little")) * P1)
        h = _rotl(h, 23) * P2 + P3
        off += 4
    for c in b[off:]:
        h = h ^ (_U(c) * P5)
        h = _rotl(h, 11) * P1
    return _fmix(h)


def _h(seed: int, ids, tag: str, idx=None):
    """``synthetic._h(id[, i], tag, seed=seed)`` as signed int64."""
    with np.errstate(over="ignore"):   # XXH64 multiplies modulo 2**64
        h = hash_int(np.int32(seed), SPARK_SEED)
        h = hash_long(ids, h)
        if idx is not None:
            h = hash_int(idx, h)
        return hash_bytes(tag.encode(), h).view(np.int64)


def _pm(h, m: int):
    return np.remainder(h, m)   # Spark pmod for a positive modulus


def _doc_ids(x, seed: int):
    u = _pm(_h(seed, x, "prefix"), 100)
    hot = _pm(_h(seed, x, "hot"), N_HOT_PREFIXES)
    cold = _pm(_h(seed, x, "cold"), N_PREFIXES)
    prefix = np.where(u < HOT_SHARE_PCT, hot, cold)
    return [f"{p:02x}-{i:012d}" for p, i in zip(prefix.tolist(), x.tolist())]


def generate(n_docs: int, *, seed: int, violation_pct: int) -> pa.Table:
    """The rows of ``generate_documents_iv(spark, n_docs, seed=seed,
    violation_pct=violation_pct)``, in id order."""
    ids = np.arange(n_docs, dtype=np.int64)
    vclass = np.where(_pm(_h(seed, ids, "viol"), 100) < violation_pct,
                      _pm(_h(seed, ids, "vclass"), 6) + 1, 0)
    dup = np.maximum(ids - _pm(ids, 97), 0)
    doc_id = np.array(_doc_ids(ids, seed), dtype=object)
    is_dup = vclass == V_DUP_DOC_ID
    doc_id[is_dup] = _doc_ids(dup[is_dup], seed)

    n_spans = _pm(_h(seed, ids, "nspans"), MAX_SPANS) + 1
    # one entry per span: its document's id, class and span count, and i
    sid = np.repeat(ids, n_spans)
    svc = np.repeat(vclass, n_spans)
    sn = np.repeat(n_spans, n_spans)
    starts = np.cumsum(n_spans) - n_spans
    si = np.arange(len(sid)) - np.repeat(starts, n_spans)
    i32 = si.astype(np.int32)

    def sh(tag):
        return _h(seed, sid, tag, i32)

    first = si == 0
    kind = np.where(_pm(sh("kind"), 10) < 3, "media", "text").astype(object)
    kind[(svc == V_BAD_KIND) & first] = "video"
    kind[(svc == V_WRONG_FIELD) & first] = "text"
    kind[(svc == V_DANGLING_REF) & first] = "media"
    textish = kind != "media"

    t1, t2, t3 = (_pm(sh(t), 9999).tolist() for t in ("text", "t2", "t3"))
    hm = sh("media")
    m_ok, m_bad = _pm(hm, N_MEDIA_ASSETS).tolist(), _pm(hm, 10_000).tolist()
    wrong = ((svc == V_WRONG_FIELD) & first).tolist()
    dangling = ((svc == V_DANGLING_REF) & first).tolist()
    text, media = [], []
    for tx, a, b, c, mo, mb, w, d in zip(textish.tolist(), t1, t2, t3, m_ok, m_bad,
                                         wrong, dangling):
        text.append(f"tok{a:04d} tok{b:04d} tok{c:04d}" if tx else None)
        if w:
            media.append(f"m-{mo:08d}")
        elif d:
            media.append(f"m-missing-{mb:08d}")
        else:
            media.append(None if tx else f"m-{mo:08d}")

    jitter = _pm(sh("off"), 16)
    offset = np.where(svc == V_NON_MONOTONIC, (sn - si) * 16 + jitter, si * 16 + jitter)
    # pyarrow refuses to write a null list that still spans elements
    null_spans = vclass == V_NULL_SPANS
    keep = ~np.repeat(null_spans, n_spans)
    span = pa.StructArray.from_arrays(
        [pa.array(kind[keep].tolist(), pa.string()),
         pa.array(np.array(text, dtype=object)[keep].tolist(), pa.string()),
         pa.array(np.array(media, dtype=object)[keep].tolist(), pa.string()),
         pa.array(offset[keep].astype(np.int32), pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    lengths = np.where(null_spans, 0, n_spans)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    spans = pa.ListArray.from_arrays(pa.array(offsets), span, mask=pa.array(null_spans))
    doc_col = pa.array(doc_id.tolist(), pa.string())
    part_key = pa.array([d[:2] for d in doc_id.tolist()], pa.string())
    return pa.table({"doc_id": doc_col, "spans": spans, "part_key": part_key})


def write(table: pa.Table, path: Path, *, partitioned: bool) -> None:
    """Write ``table`` as the engine's generator output is laid out: 16
    parquet files over contiguous id ranges, or one file per ``part_key``
    directory."""
    if partitioned:
        ds.write_dataset(
            table, path, format="parquet", basename_template="part-{i}.parquet",
            partitioning=ds.partitioning(pa.schema([("part_key", pa.string())]), flavor="hive"),
        )
        return
    path.mkdir(parents=True)
    n = table.num_rows
    for f in range(FILES):
        lo, hi = n * f // FILES, n * (f + 1) // FILES
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{f:05d}.parquet")
