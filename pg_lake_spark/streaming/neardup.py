"""Streaming MinHash-LSH near-duplicate candidates.

The batch LSH pipeline (operators/dedup.lsh_candidate_pairs) buckets
signatures with a groupBy — on a stream that becomes a KEYED STATEFUL
operator: each bucket remembers the doc ids (and signatures) it has
seen and every arriving doc emits a candidate pair against each of them
(``applyInPandasWithState`` — the engine's custom-stateful-operator
surface, same as the running-totals query). The operator is keyed on a
coarse group of buckets (``state_groups`` groups), each state row
holding its buckets' member lists — per-bucket semantics unchanged,
per-group fixed costs amortized (see _make_emit_pairs_gated).

Every LSH decision is shared with batch through ``operators/dedup.py``:

- one hash family: :func:`streaming_band_keys` signs with
  ``minhash_signature_fold``, the map-only spelling of the family batch
  signs with through ``minhash_signature_agg`` (explode + groupBy, which
  cannot run on a stream; batch keeps it because it measured cheaper
  there). The values are equal, so the candidate sets are equal and the
  batch query's exact-Jaccard oracle transfers;
- one bucket key: ``_band_bucket_sql``, a bigint per (band, bucket);
- one estimate gate: ``_auto_est_gate`` and the same agreement count;
- one verify stage: ``verify_candidate_pairs`` (st_stream_lsh_neardup).

Scale: the banding shuffle is the same short-key exchange as batch;
per-bucket state is the member list (bounded by bucket size — the same
quantity the batch self-join materializes). State never expires here
(dedup against ALL history is the point); production would add a
TTL/timeout for bounded retention.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pg_lake_spark.operators.dedup import (
    _auto_est_gate,
    _band_bucket_sql,
    minhash_signature_fold,
    word_shingles,
)

#: The one state layout of the LSH operator. Spark refuses to resume a
#: checkpoint written with another layout
#: (STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE).
_STATE_SCHEMA = (
    "buckets array<long>, ids array<array<long>>, sigs array<array<array<long>>>"
)


def streaming_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(_id, _sig, band, bucket) rows — expression-only (stream-safe).
    ``_sig`` is the full signature (num_hashes bigints, equal to batch
    ``minhash_signature_agg``'s _h0.._hk), the estimate gate's input;
    ``bucket`` is the band's bigint bucket key, equal to batch's."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}): leftover signature components would be silently "
            "excluded from banding (same contract as the batch "
            "lsh_candidate_pairs, which also refuses)"
        )
    rows_per_band = num_hashes // bands
    # Batch parity for degenerate docs: minhash_signature_agg EXPLODES
    # the shingle array, so NULL/too-short text contributes no rows.
    # Unfiltered here, every such doc would get an all-NULL signature
    # and funnel into one mega-bucket per band — O(n²) spurious pairs
    # and unbounded state growth for null-text corpora.
    df = df.where(F.size(word_shingles(text_col, shingle_n)) > 0)
    signed = df.select(
        F.col(id_col).alias("_id"),
        minhash_signature_fold(text_col, shingle_n, num_hashes).alias("_sig"),
    )
    band_structs = ", ".join(
        f"struct({b} as band, {_band_bucket_sql(b, rows_per_band, '_sig[{i}]')} as bucket)"
        for b in range(bands)
    )
    return signed.select(
        "_id", "_sig", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("_id", "_sig", "bb.band", "bb.bucket")


def _make_emit_pairs_gated(max_bucket_size: int | None, gate_thr: float | None):
    """Pair emitter for a COARSE state group holding many buckets (r16
    opt, guide §4.2): keying the stateful operator on every individual
    bucket paid applyInPandasWithState's per-group fixed cost (pandas
    frame build + state get/update) ~20k times per micro-batch at sf0.1
    — the dominant term of the drain. One state row per coarse group
    instead holds a bucket -> members map (parallel arrays in
    ``_STATE_SCHEMA``: bucket keys, member ids, member signatures), and
    the per-bucket semantics are evaluated row-by-row inside it: once a
    bucket has max_bucket_size members, later arrivals neither emit
    pairs nor grow its state — the streaming analogue of the batch
    _cap_buckets sub-sample (state stays bounded; a degenerate
    mega-bucket of identical boilerplate cannot make per-batch work
    quadratic). Identical documents are the exact-dedup stage's job.

    Estimate gate (r17, the batch est_gate ported): a candidate pair is
    emitted only when the two signatures agree on at least ``gate_thr``
    components — the SAME predicate the batch self-join applies inline
    (``__agree >= est_gate*num_hashes``). Gated-out pairs never leave
    the operator, so the downstream distinct(), the verify joins AND
    the candidate-doc shingling all shrink by the gate's cut. Bucket
    membership is unaffected by the gate (the batch gate likewise
    filters join output, not bucket contents): cap and duplicate checks
    run before it, and a gated-out arrival still joins its bucket. The
    agreement test is vectorized — ONE numpy comparison per group and
    micro-batch. ``gate_thr`` None skips it; the state layout is the
    same either way, so a checkpoint can switch the gate on or off."""

    def _emit_pairs(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen: dict[int, list[int]] = {}
        sigs: dict[int, list] = {}
        if state.exists:
            for b, l, sg in zip(*state.get):
                seen[b] = list(l)
                sigs[b] = list(sg)
        out_a: list[int] = []
        out_b: list[int] = []
        sig_l: list = []
        sig_r: list = []
        for pdf in pdfs:
            for _id, bkey, sig in zip(
                pdf["_id"].tolist(), pdf["_bk"].tolist(), pdf["_sig"]
            ):
                s = seen.get(bkey)
                if s is None:
                    s = seen[bkey] = []
                    sg = sigs[bkey] = []
                else:
                    sg = sigs[bkey]
                if max_bucket_size is not None and len(s) >= max_bucket_size:
                    continue
                if _id in s:
                    continue
                sig = np.asarray(sig, dtype=np.int64)
                for other, other_sig in zip(s, sg):
                    out_a.append(min(_id, other))
                    out_b.append(max(_id, other))
                    sig_l.append(sig)
                    sig_r.append(other_sig)
                s.append(_id)
                sg.append(sig)
        # state values must be pure-Python (the state round-trip
        # pickles them JVM-side; numpy scalars/arrays break the
        # unpickler) — tolist() above and below yields builtin ints
        state.update(
            (
                list(seen),
                list(seen.values()),
                [[np.asarray(v).tolist() for v in sigs[b]] for b in seen],
            )
        )
        if out_a:
            a = np.asarray(out_a, dtype=np.int64)
            b = np.asarray(out_b, dtype=np.int64)
            if gate_thr is not None:
                keep = (np.vstack(sig_l) == np.vstack(sig_r)).sum(axis=1) >= gate_thr
                a, b = a[keep], b[keep]
            if len(a):
                yield pd.DataFrame({"id_a": a, "id_b": b})

    return _emit_pairs


def stream_lsh_candidates(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int | None = 5000,
    state_groups: int = 256,
    est_gate: float | str | None = None,
) -> DataFrame:
    """Streaming candidate-pair DataFrame (id_a < id_b; a pair may
    surface from several bands — distinct() downstream, exactly like
    the batch pipeline's candidate stage). ``max_bucket_size`` bounds
    each bucket's state and pair fan-out (see _make_emit_pairs_gated).

    ``state_groups`` (r16 opt): the stateful operator is keyed on the
    bucket key modulo this many coarse groups, not on each
    bucket — per-group fixed cost amortizes across the ~hundreds of
    buckets a group holds, while each bucket's emit/cap semantics are
    preserved inside the group (measured drain 15.8s -> 2.8s at
    sf0.1; pair set exceptAll-equal).

    HARD REQUIREMENT at scale (r16 ADVICE): a state row holds ALL of
    its group's buckets, so with the library default of 256 the
    per-row state grows ~(bands·n_docs)/256 id-list entries —
    unbounded in the corpus. Callers MUST scale it ~(bands·n_docs)/
    2048 (parquet footer row counts make this free — see
    st_stream_lsh_neardup) so a state row stays a few thousand
    entries no matter the corpus; the key space is fixed at stream
    start, so the operator cannot derive it from the first
    micro-batch itself. The value only trades group count against
    state-row size, never results.

    ``est_gate`` (r17, the batch gate ported per VERDICT r16 #1):
    minimum MinHash-ESTIMATED Jaccard — the fraction of agreeing
    signature components — a pair must clear to be emitted. Same
    contract and same ``"auto"`` derivation as the batch
    ``lsh_candidate_pairs`` (shared ``_auto_est_gate``), so the gated
    streaming candidate set equals the gated batch candidate set
    exactly (signatures are bit-identical). None or <= 0 emits every
    candidate. Every banded row carries its signature into state
    whether gated or not, so the state layout (``_STATE_SCHEMA``) does
    not depend on the gate — see _make_emit_pairs_gated."""
    if est_gate == "auto":
        # "auto" needs the caller's exact-verify threshold to floor
        # against; this operator has none (it emits candidates), so the
        # banding S-curve midpoint itself is the floor — numerically
        # identical to the batch auto gate whenever threshold <= s50,
        # which holds for every sensible banding (a threshold above the
        # midpoint means the banding is too loose for the query).
        est_gate = _auto_est_gate(0.0, num_hashes, bands)
    if est_gate is not None and est_gate <= 0:
        est_gate = None
    banded = streaming_band_keys(
        stream_df, id_col, text_col,
        shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
    )
    # the bucket already hashes its band in, so it is the state key as
    # is, and a plain modulus of it spreads buckets over the groups
    keyed = banded.select(
        "_id",
        "_sig",
        F.col("bucket").alias("_bk"),
        F.pmod("bucket", F.lit(state_groups)).alias("_grp"),
    )
    emit = _make_emit_pairs_gated(
        max_bucket_size, None if est_gate is None else est_gate * num_hashes
    )
    return keyed.groupBy("_grp").applyInPandasWithState(
        emit,
        outputStructType="id_a long, id_b long",
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
