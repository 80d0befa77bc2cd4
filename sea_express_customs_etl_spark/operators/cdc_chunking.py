"""Content-defined chunking (FastCDC-lite) — the storage-dedup
primitive the fixed-size chunker in ``packing.py:chunk_documents``
cannot provide: boundaries are chosen by a SLIDING content hash, so an
insertion or deletion shifts only the chunks it lands in — downstream
boundaries re-anchor on the same content and dedup against the
unedited copy (the property behind every dedup store: rsync,
restic/borg, LBFS (Muthitacharoen et al. SOSP'01), FastCDC (Xia et
al. ATC'16)). A fixed-size chunker loses alignment at the first edit
and every later chunk changes.

Spec (identical on both engines, integer-exact):

* 1-indexed characters, ``code = codepoint`` (ASCII corpus — Spark
  ``ascii`` ≡ DuckDB ``unicode`` on it)
* ``g = (code · 2654435761) mod 2²⁰`` — the Gear byte table as a
  Knuth multiplicative hash (raw ASCII codes are BIASED: lowercase
  letters always carry bit 6, so the high bits of a ×2 recurrence
  over raw codes are near-constant and the cut rate collapses —
  measured cap-boundary domination before the table)
* ``h ← (2·h + g) mod 2²⁰`` — the Gear recurrence: the EVEN
  multiplier sheds a character's contribution after 20 shifts, so h
  at any position is a pure function of the LAST ≤ 20 characters (a
  reset-based or odd-multiplier hash is prefix-dependent from the
  last boundary and never provably realigns — measured: 0 shared
  chunks after a 4-char head edit vs guaranteed-window resync with
  the sliding form; corpus cut rate measured at the designed 1/31
  chars)
* boundary at position ``p`` iff ``(h < 2¹⁵ AND len ≥ min_len) OR
  len ≥ max_len OR p = |text|`` where ``len = p − start + 1`` — the
  HIGH-bit test (top 5 bits zero, cut rate 1/32): low bits of a
  ×2 recurrence see only the last 5 characters, the high bits the
  full 20-character window
* chunk = ``substring(text, start, len)``

The reference's pipeline has no chunk store; this is beyond-parity
infrastructure for the 100 TB curation target, where near-identical
web snapshots dominate storage.

Scale shape: the boundary fold is per-document (map-only — one
interpreted higher-order ``aggregate`` per row, O(|text|) state
steps); chunk emission is one ``posexplode``; the dedup aggregation is
one partial-aggregated shuffle on the chunk digest. Nothing is
pairwise, nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

THRESH = 32_768  # h < 2^15 — top 5 of 20 bits zero, cut rate 1/32
GEAR = 2_654_435_761  # Knuth multiplicative constant (the gear table)
MIN_LEN = 8
MAX_LEN = 64
MOD = 1_048_576


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresh: int = THRESH,
    min_len: int = MIN_LEN,
    max_len: int = MAX_LEN,
) -> DataFrame:
    """Per-document content-defined chunks: (id, chunk_idx, chunk,
    chunk_len, chunk_hash). The rolling-hash boundary fold runs as one
    Catalyst ``aggregate`` accumulating (h, start, boundary-positions);
    chunks then slice out of the original string — the text never
    leaves its row until the digest-grain aggregation downstream."""
    t = F.col(text_col)
    step = lambda acc, p: F.struct(  # noqa: E731 — Catalyst lambda
        *_bound_step(acc, p, t, thresh, min_len, max_len)
    )
    # sequence(1, n) DESCENDS when n < 1 (CLAUDE.md) — empty texts get
    # an empty boundary list, not a [1, 0] walk
    bs = F.when(
        F.length(t) > 0,
        F.aggregate(
            F.sequence(F.lit(1), F.length(t)),
            F.struct(
                F.lit(0).cast("long").alias("h"),
                F.lit(1).alias("start"),
                F.array().cast("array<int>").alias("bs"),
            ),
            step,
            lambda acc: acc["bs"],
        ),
    ).otherwise(F.array().cast("array<int>"))
    d = df.select(id_col, text_col).withColumn("_bs", bs)
    chunk = F.col("_c.chunk")
    return (
        d.select(
            id_col,
            text_col,
            F.posexplode(
                F.transform(
                    F.col("_bs"),
                    lambda e, i: F.struct(
                        F.substring(
                            t,
                            F.when(i == 0, F.lit(1)).otherwise(
                                F.element_at(F.col("_bs"), i) + 1
                            ),
                            e
                            - F.when(i == 0, F.lit(1)).otherwise(
                                F.element_at(F.col("_bs"), i) + 1
                            )
                            + 1,
                        ).alias("chunk")
                    ),
                )
            ).alias("chunk_idx", "_c"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            chunk.alias("chunk"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


def _bound_step(acc, p, t, thresh, min_len, max_len):
    g = (F.ascii(F.substring(t, p, 1)).cast("long") * GEAR) % MOD
    hn = (acc["h"] * 2 + g) % MOD
    clen = p - acc["start"] + 1
    bnd = (
        ((hn < thresh) & (clen >= min_len))
        | (clen >= max_len)
        | (p == F.length(t))
    )
    # h never resets — the sliding window IS the state; only `start`
    # is boundary-relative
    return (
        hn.alias("h"),
        F.when(bnd, p + 1).otherwise(acc["start"]).alias("start"),
        F.when(bnd, F.concat(acc["bs"], F.array(p)))
        .otherwise(acc["bs"])
        .alias("bs"),
    )


def cdc_chunks_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresh: int = THRESH,
    min_len: int = MIN_LEN,
    max_len: int = MAX_LEN,
) -> DataFrame:
    """The Arrow fast path for :func:`cdc_chunks` — bit-identical
    output (pinned by test_cdc_chunking parity), ~10× the throughput:
    the gear recurrence has NO reset, so ``h_p`` is a pure sliding
    function of the last 20 characters and the whole h-SERIES
    vectorizes as 20 shifted adds over the g-mapped code array (numpy,
    one pass); only the min/max-len boundary gating is a sequential
    walk, and it visits CANDIDATE cut positions only (~n/32 of the
    text). Chunk slicing and hashing stay in Catalyst (md5 on the
    exploded chunk column), so the bytes cross Arrow once.

    This is the production path for the 12 s interpreted-HOF fold the
    bench flagged (SCALE.md round-8): same spec, same plan shape
    downstream (map-only → posexplode → digest agg).

    The byte-vectorized kernel is exact only on ASCII text (UTF-8
    multi-byte would diverge from the per-CHARACTER Catalyst fold), so
    non-ASCII rows are ROUTED to the Catalyst path instead of poisoning
    the job: one bad document at 100 TB must not abort the run, and
    both branches implement the identical spec so the union stays
    bit-identical to a pure-Catalyst run (parity test covers a mixed
    ASCII/CJK frame)."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids, idxs, chs = [], [], []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or len(txt) == 0:
                    continue
                codes = np.frombuffer(
                    txt.encode("utf-8"), dtype=np.uint8
                ).astype(np.int64)
                # the router below guarantees ASCII; a multi-byte row
                # reaching here is a routing bug, not bad data
                if codes.max(initial=0) > 127:
                    raise AssertionError(
                        f"non-ASCII doc {rid} leaked past the router"
                    )
                g = (codes * GEAR) % MOD
                h = np.zeros(len(g), dtype=np.int64)
                acc = g.copy()
                # h_p = sum_{k=0..19} 2^k * g[p-k] mod 2^20 — 20
                # shifted adds, oldest contributions shed by the mod
                h += acc
                for _ in range(19):
                    acc = (acc * 2) % MOD
                    acc[1:] = acc[:-1]
                    acc[0] = 0
                    h += acc
                h %= MOD
                n = len(codes)
                cand = (h < thresh).nonzero()[0]  # 0-based positions
                start, ci, out = 1, 0, []
                while start <= n:
                    # next natural cut at 1-based p with p-start+1>=min
                    lo = start + min_len - 2  # 0-based index of p
                    while ci < len(cand) and cand[ci] < lo:
                        ci += 1
                    cap = start + max_len - 1
                    if ci < len(cand) and cand[ci] + 1 <= min(cap, n):
                        p = int(cand[ci]) + 1
                    else:
                        p = min(cap, n)
                    out.append(txt[start - 1 : p])
                    start = p + 1
                for k, c in enumerate(out):
                    ids.append(rid)
                    idxs.append(k)
                    chs.append(c)
            yield pd.DataFrame(
                {id_col: ids, "chunk_idx": idxs, "chunk": chs}
            )

    chunk = F.col("chunk")
    base = df.select(id_col, text_col)
    # route non-ASCII rows to the per-character Catalyst fold (same
    # spec, bit-identical) — quarantine-by-routing, never abort
    is_ascii = F.coalesce(
        ~F.col(text_col).rlike("[^\\x00-\\x7F]"), F.lit(True)
    )
    arrow_part = (
        base.filter(is_ascii)
        .mapInPandas(kernel, f"{id_col} long, chunk_idx int, chunk string")
        .select(
            id_col,
            "chunk_idx",
            chunk,
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )
    return arrow_part.unionByName(
        cdc_chunks(
            base.filter(~is_ascii),
            text_col,
            id_col,
            thresh,
            min_len,
            max_len,
        )
    )


def cdc_shared_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document chunk reuse — the dedup-store view: for every
    chunk digest stored by ≥ ``min_docs`` distinct documents, the
    dedupable footprint (chunk_hash, chunk_len, n_docs, n_occ). One
    digest-grain partial-aggregated shuffle; at 100 TB this IS the
    question a chunked object store answers before admitting bytes.
    Chunks come from the vectorized ``cdc_chunks_arrow``."""
    return (
        cdc_chunks_arrow(df, text_col, id_col)
        .groupBy("chunk_hash")
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_hash", "chunk_len", "n_docs", "n_occ")
    )
