"""Pure-numpy BiLSTM-CRF *inference* core (reference compute C2–C7,
SURVEY.md §2.1; architecture per Huang/Xu/Yu 2015 arXiv:1508.01991 and
Lample et al. NAACL 2016 — public literature, no reference code).

Deterministic fp32: sequential time loop, single-threaded BLAS
(workers pin OMP_NUM_THREADS=1 via the session factory), fixed
parameter dict — identical results on any executor/partitioning.

Parameter dict layout (``model_tiny.npz`` keys):
    embed   [V, d]        char embeddings (row 0 = <PAD>, 1 = <UNK>)
    wx_f, wh_f, b_f       forward  LSTM: [d,4h], [h,4h], [4h]
    wx_b, wh_b, b_b       backward LSTM
    proj_w  [2h, K]       emission projection
    proj_b  [K]
    trans   [K+2, K+2]    CRF transitions; rows/cols K=START, K+1=STOP
    vocab   array of chars (index = id)
"""

from __future__ import annotations

import numpy as np

from ner_spark.ner.decode import BIO_TAGS

K = len(BIO_TAGS)
PAD_ID, UNK_ID = 0, 1


def _sigmoid_inplace(x: np.ndarray) -> None:
    """1/(1+exp(-x)) with zero allocations: negate, exp, +1 and
    reciprocal, each written back into the input buffer."""
    np.negative(x, out=x)
    np.exp(x, out=x)
    x += 1.0
    np.reciprocal(x, out=x)


def build_vocab(corpus_chars) -> dict[str, int]:
    """char → id; 0/1 reserved.  Sorted for determinism."""
    vocab = {"<PAD>": PAD_ID, "<UNK>": UNK_ID}
    for ch in sorted(set(corpus_chars)):
        vocab.setdefault(ch, len(vocab))
    return vocab


def vocab_lut(vocab: dict[str, int]) -> np.ndarray:
    """Codepoint → id lookup table (vectorized C2).  Codepoints beyond
    the table map to <UNK> via clipping to a sentinel slot."""
    max_cp = max((ord(ch) for ch in vocab if len(ch) == 1), default=1)
    lut = np.full(max_cp + 2, UNK_ID, dtype=np.int32)
    for ch, i in vocab.items():
        if len(ch) == 1:
            lut[ord(ch)] = i
    lut[-1] = UNK_ID  # sentinel slot for out-of-range codepoints
    return lut


def encode_batch(
    char_seqs: list[list[str]],
    vocab: dict[str, int],
    lut: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Pad to batch max-len → (ids [B,T] int32, lengths [B] int32).
    char→id is pure numpy (utf-32 decode + table gather); pass the
    ``vocab_lut(vocab)`` table to reuse it across batches."""
    if lut is None:
        lut = vocab_lut(vocab)
    B = len(char_seqs)
    lengths = np.array([len(s) for s in char_seqs], dtype=np.int32)
    T = max(1, int(lengths.max()) if B else 1)
    ids = np.zeros((B, T), dtype=np.int32)
    sent = lut.shape[0] - 1
    for i, seq in enumerate(char_seqs):
        if not seq:
            continue
        cps = np.frombuffer(
            "".join(seq).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        ids[i, : len(seq)] = lut[np.minimum(cps, sent)]
    return ids, lengths


# Per-process grow-only buffer for the hoisted input projection
# (x·Wx + b): ONE [B·T, 4h] C-contiguous block reused across batches
# and both LSTM directions (they run sequentially, and each consumes
# its xw inside its own time loop before the other starts).  Spark
# python workers are single-threaded and reused across tasks, so the
# buffer amortizes to zero allocation in steady state — same op
# sequence (matmul into ``out`` + in-place bias add), bit-identical.
_XW_BUFS: dict[int, np.ndarray] = {}


def _xw_into(x: np.ndarray, wx: np.ndarray, b: np.ndarray) -> np.ndarray:
    B, T, d = x.shape
    n, m = B * T, wx.shape[1]
    buf = _XW_BUFS.get(m)
    if buf is None or buf.shape[0] < n:
        buf = np.empty((max(n, 4096), m), dtype=np.float32)
        _XW_BUFS[m] = buf
    out = buf[:n]
    np.matmul(x.reshape(n, d), wx, out=out)
    out += b
    return out.reshape(B, T, m)


def _lstm_dir(
    x: np.ndarray,
    mask: np.ndarray,
    wx,
    wh,
    b,
    reverse: bool,
    out: np.ndarray | None = None,
):
    """One LSTM direction over [B,T,d] → [B,T,h]; masked at padding.

    The input projection is time-independent, so it is hoisted out of
    the recurrence as ONE [B·T,d]@[d,4h] matmul (plus the bias); only
    the [B,h]@[h,4h] hidden matmul stays inside the loop.

    The recurrence itself allocates NOTHING: all step tensors live in
    preallocated buffers updated in place (same op sequence as the
    naive form, so results are bit-identical).  With 16–32 python
    workers sharing one box, the per-step temporary churn of the naive
    form (≈6 allocations × T steps × [B,4h]) was the dominant
    memory-bandwidth/allocator load — measured as the per-core
    throughput cliff at high parallelism.  ``out`` may be a strided
    [B,T,h] view (one half of the concat target) — written per step.

    Mask semantics: mask values are exactly 0/1, so the arithmetic
    blend ``m·new + (1−m)·old`` equals a selective copy bit-for-bit;
    implemented as ``np.copyto(..., where=active)``."""
    B, T, d = x.shape
    h_dim = wh.shape[0]
    xw = _xw_into(x, wx, b)
    h = np.zeros((B, h_dim), dtype=np.float32)
    c = np.zeros((B, h_dim), dtype=np.float32)
    if out is None:
        out = np.zeros((B, T, h_dim), dtype=np.float32)
    g = np.empty((B, 4 * h_dim), dtype=np.float32)
    cnew = np.empty((B, h_dim), dtype=np.float32)
    tmp = np.empty((B, h_dim), dtype=np.float32)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    for t in steps:
        np.matmul(h, wh, out=g)
        g += xw[:, t, :]
        i_g = g[:, :h_dim]
        f_g = g[:, h_dim : 2 * h_dim]
        c_g = g[:, 2 * h_dim : 3 * h_dim]
        o_g = g[:, 3 * h_dim :]
        _sigmoid_inplace(i_g)
        _sigmoid_inplace(f_g)
        np.tanh(c_g, out=c_g)
        _sigmoid_inplace(o_g)
        active = mask[:, t : t + 1]  # [B,1] bool
        # c ← f·c + i·c̃ on active rows only
        np.multiply(f_g, c, out=cnew)
        np.multiply(i_g, c_g, out=tmp)
        cnew += tmp
        np.copyto(c, cnew, where=active)
        # h ← o·tanh(c) on active rows only
        np.tanh(c, out=tmp)
        tmp *= o_g
        np.copyto(h, tmp, where=active)
        out[:, t, :] = h
    return out


def hidden_states(ids: np.ndarray, lengths: np.ndarray, p: dict) -> np.ndarray:
    """C3+C4: embedding lookup + BiLSTM concat → [B,T,2h] fp32.
    Both directions write straight into their half of the concat
    target (no post-hoc concatenate copy)."""
    mask = (
        np.arange(ids.shape[1])[None, :] < lengths[:, None]
    )  # [B,T] bool
    x = p["embed"][ids].astype(np.float32)  # [B,T,d]
    B, T = ids.shape
    h_dim = p["wh_f"].shape[0]
    hs = np.zeros((B, T, 2 * h_dim), dtype=np.float32)
    _lstm_dir(
        x, mask, p["wx_f"], p["wh_f"], p["b_f"], reverse=False,
        out=hs[:, :, :h_dim],
    )
    _lstm_dir(
        x, mask, p["wx_b"], p["wh_b"], p["b_b"], reverse=True,
        out=hs[:, :, h_dim:],
    )
    return hs


def emissions(ids: np.ndarray, lengths: np.ndarray, p: dict) -> np.ndarray:
    """C5: [B,T,2h] @ proj → [B,T,K]."""
    h = hidden_states(ids, lengths, p)
    return h @ p["proj_w"] + p["proj_b"]


def viterbi_batch(
    emit: np.ndarray, lengths: np.ndarray, trans: np.ndarray
) -> list[list[int]]:
    """C7: batched Viterbi DP with START/STOP transitions.

    delta_t[k] = emit[t,k] + max_j(delta_{t-1}[j] + A[j,k]);
    vectorized over the batch: [B,K,1] + [K,K] broadcast per step.
    O(T·K²) per sentence; the reference's hot loop re-expressed in
    batch-major numpy (the template for the UDF inner loop).

    The label-set size is derived from ``trans`` (K = rows − 2), so
    the same DP serves the 7-tag BIO model and the 13-tag BMES model
    (C7 across both schemes) — identical arithmetic for BIO."""
    B, T, Kk = emit.shape
    k, start, stop = trans.shape[0] - 2, trans.shape[0] - 2, trans.shape[0] - 1
    A = trans[:k, :k]  # [K,K]
    delta = trans[start, :k][None, :] + emit[:, 0, :]  # [B,K]
    backp = np.zeros((B, T, Kk), dtype=np.int8)  # K ≤ 127
    deltas = np.zeros((B, T, Kk), dtype=emit.dtype)
    deltas[:, 0, :] = delta
    rows = np.arange(B)
    for t in range(1, T):
        scores = delta[:, :, None] + A[None, :, :]  # [B, K_prev, K_cur]
        am = np.argmax(scores, axis=1)  # [B, K_cur]
        backp[:, t, :] = am
        step = np.take_along_axis(scores, am[:, None, :], axis=1)[
            :, 0, :
        ] + emit[:, t, :]
        # frozen past end-of-sentence; real rows advance
        active = (t < lengths)[:, None]
        delta = np.where(active, step, delta)
        deltas[:, t, :] = delta
    # vectorized backtrack across the batch
    last = np.maximum(lengths - 1, 0)
    final = deltas[rows, last, :] + trans[:k, stop][None, :]
    ks = np.argmax(final, axis=1).astype(np.int64)  # [B]
    path_mat = np.zeros((B, T), dtype=np.int64)
    path_mat[rows, last] = ks
    for t in range(T - 1, 0, -1):
        # rows whose sentence includes step t: position t-1 follows the
        # backpointer of the (already-final) state at position t
        upd = t <= last
        path_mat[upd, t - 1] = backp[upd, t, path_mat[upd, t]]
    paths: list[list[int]] = []
    for b in range(B):
        L = int(lengths[b])
        paths.append(path_mat[b, :L].tolist())
    return paths


def viterbi_brute(emit_1: np.ndarray, trans: np.ndarray) -> list[int]:
    """Exhaustive argmax over all K^T paths (tests only, T ≤ 6)."""
    import itertools

    k, start, stop = trans.shape[0] - 2, trans.shape[0] - 2, trans.shape[0] - 1
    T = emit_1.shape[0]
    best, best_score = None, -np.inf
    for path in itertools.product(range(k), repeat=T):
        s = trans[start, path[0]] + emit_1[0, path[0]]
        for t in range(1, T):
            s += trans[path[t - 1], path[t]] + emit_1[t, path[t]]
        s += trans[path[-1], stop]
        if s > best_score:
            best, best_score = list(path), s
    return best
