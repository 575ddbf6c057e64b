"""Pure-numpy BiLSTM-CRF *inference* core (reference compute C2–C7,
SURVEY.md §2.1; architecture per Huang/Xu/Yu 2015 arXiv:1508.01991 and
Lample et al. NAACL 2016 — public literature, no reference code).

The BiLSTM is a packed, gate-major recurrence (``_packed_states``):
rows sorted by length step only while they run, the input projection
is a gather from a per-character table (``fold_input``), and gates are
[4h, n] blocks, so each activation is one contiguous ufunc call.

Deterministic fp32: sequential time loop, single-threaded BLAS (workers
pin OMP_NUM_THREADS=1 via the session factory), fixed parameters.  A
text's spans do not depend on the batch it is tagged in
(tests/tagger/test_batch.py).  Its emission bits may: BLAS blocks the
per-step matmul by the number of running rows, and measured emissions
differ by ≤ 1e-5 between batchings and from a naive per-text LSTM
(tests/tagger/test_kernel.py).

Parameter dict layout (``model_tiny.npz`` keys):
    embed   [V, d]        char embeddings (row 0 = <PAD>, 1 = <UNK>)
    wx_f, wh_f, b_f       forward  LSTM: [d,4h], [h,4h], [4h]
    wx_b, wh_b, b_b       backward LSTM
    proj_w  [2h, K]       emission projection
    proj_b  [K]
    trans   [K+2, K+2]    CRF transitions; rows/cols K=START, K+1=STOP
    vocab   array of chars (index = id)
plus, derived by ``fold_input`` where the parameters load:
    xt_f, xt_b            [4h, V] folded input projections
    whT_f, whT_b          [4h, h] transposed recurrent weights
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


def fold_input(p: dict) -> dict:
    """``p`` plus each direction's gate-major tables, derived once where
    the parameters are loaded:

    - ``xt_f``/``xt_b`` [4h, V]: ``(embed·wx + b)ᵀ``, the input
      projection of every vocabulary id, so the recurrence gathers a
      column per character instead of multiplying;
    - ``whT_f``/``whT_b`` [4h, h]: ``whᵀ``.

    Gate rows are ordered i, f, o, c̃ (the weights store i, f, c̃, o),
    so the three sigmoid gates are one contiguous block.  The table is
    built from ``embed`` as stored: fp16-rounded when it comes from
    ``load_or_train``."""
    x = p["embed"].astype(np.float32)
    h = p["wh_f"].shape[0]
    gates = np.r_[0 : 2 * h, 3 * h : 4 * h, 2 * h : 3 * h]
    out = dict(p)
    for d in "fb":
        xw = x @ p[f"wx_{d}"] + p[f"b_{d}"]
        out[f"xt_{d}"] = np.ascontiguousarray(xw.T[gates])
        out[f"whT_{d}"] = np.ascontiguousarray(p[f"wh_{d}"].T[gates])
    return out


def _lstm_packed(
    xt: np.ndarray,
    whT: np.ndarray,
    ids: np.ndarray,
    running: list[int],
    out: np.ndarray,
) -> None:
    """One LSTM direction over packed rows.

    ``ids`` [T, B] holds the rows' ids column-wise, rows sorted by
    length, descending, so step t runs exactly the first
    ``running[t]`` columns (``pack_padded_sequence``): no row steps
    past its end, so no mask and no padded id is read.  h_t goes to
    ``out[:, t, :n]`` ([h, T, B]); the next step's [4h,h]@[h,n]
    matmul reads it back from there.

    Gates are [4h, n] C-contiguous, so each activation is one ufunc
    call on one contiguous block.  The loop allocates nothing: the
    input projection is an ``np.take`` of ``xt`` columns into a
    preallocated buffer, and every other op writes in place:
    c ← f·c + i·c̃, h ← o·tanh(c)."""
    h, B = whT.shape[1], ids.shape[1]
    c = np.zeros((h, B), dtype=np.float32)
    g_buf = np.empty(4 * h * B, dtype=np.float32)
    x_buf = np.empty(4 * h * B, dtype=np.float32)
    for t, n in enumerate(running):
        g = g_buf[: 4 * h * n].reshape(4 * h, n)
        if t == 0:  # h₋₁ = 0: the gates are the input projection
            np.take(xt, ids[0, :n], axis=1, out=g, mode="clip")
        else:
            x = x_buf[: 4 * h * n].reshape(4 * h, n)
            np.take(xt, ids[t, :n], axis=1, out=x, mode="clip")
            np.matmul(whT, out[:, t - 1, :n], out=g)
            g += x
        _sigmoid_inplace(g[: 3 * h])
        i, f, o, cc = g[:h], g[h : 2 * h], g[2 * h : 3 * h], g[3 * h :]
        np.tanh(cc, out=cc)
        cv = c[:, :n]
        cv *= f
        i *= cc
        cv += i
        np.tanh(cv, out=i)
        np.multiply(o, i, out=out[:, t, :n])


def _packed_states(
    ids: np.ndarray, lengths: np.ndarray, p: dict
) -> tuple[np.ndarray, np.ndarray]:
    """C3+C4 → (H [2h, T, B'] fp32, order): the BiLSTM states of the
    rows ``ids[order]`` (sorted by length, descending), forward half
    then backward half, zero past each row's end.

    The backward direction runs forward over each row's reversed ids,
    left-aligned, so it packs like the forward one; one gather then
    puts its states back at their positions."""
    B, T = ids.shape
    h = p["whT_f"].shape[1]
    order = np.argsort(-lengths, kind="stable")
    L = lengths[order].astype(np.int64)
    steps = int(L[0]) if B else 0
    running = (L[None, :] > np.arange(steps)[:, None]).sum(axis=1).tolist()
    t = np.arange(T)[:, None]
    # rt[t, j]: the position row j's reversed pass reads at step t (t
    # itself past the row's end, where nothing is read or written)
    rt = np.where(t < L, L - 1 - t, t)
    # [T, B]; intp ids take np.take's fast path
    fwd = ids[order].T.astype(np.intp, order="C")
    H = np.zeros((2 * h, T, B), dtype=np.float32)
    _lstm_packed(p["xt_f"], p["whT_f"], fwd, running, H[:h])
    bwd = np.take_along_axis(fwd, rt, axis=0)
    rev = np.zeros((h, T, B), dtype=np.float32)
    _lstm_packed(p["xt_b"], p["whT_b"], bwd, running, rev)
    np.take(
        rev.reshape(h, T * B),
        (rt * B + np.arange(B)).ravel(),
        axis=1,
        out=H[h:].reshape(h, T * B),
        mode="clip",
    )
    return H, order


def hidden_states(ids: np.ndarray, lengths: np.ndarray, p: dict) -> np.ndarray:
    """C3+C4: BiLSTM states → [B,T,2h] fp32 in the rows' given order
    (zero at padded positions).  ``p`` carries ``fold_input``'s
    tables."""
    H, order = _packed_states(ids, lengths, p)
    return np.take(H.transpose(2, 1, 0), np.argsort(order), axis=0)


def emissions(ids: np.ndarray, lengths: np.ndarray, p: dict) -> np.ndarray:
    """C5: emission scores [B,T,K] in the rows' given order.  The
    projection is ONE [K,2h]@[2h,T·B] matmul on the gate-major state
    buffer (on a transposed [B,T,2h] view the matmul falls off BLAS).
    Padded positions read ``proj_b``."""
    H, order = _packed_states(ids, lengths, p)
    k = p["proj_w"].shape[1]
    _, T, B = H.shape
    e = p["proj_w"].T @ H.reshape(-1, T * B)
    e += p["proj_b"][:, None]
    e = e.reshape(k, T, B).transpose(2, 1, 0)
    return np.take(e, np.argsort(order), axis=0)


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
