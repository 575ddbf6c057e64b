"""The packed BiLSTM kernel (``model_np.emissions``) against a naive
one-text-at-a-time LSTM, and its padding contract: padded ids are never
read, and Viterbi never reads padded emissions."""

from __future__ import annotations

import numpy as np
import pytest

from ner_spark.fixtures.transcripts import transcripts_pdf
from ner_spark.ner import model_np as M
from ner_spark.ner.tagger import _cached_model


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _naive_lstm(x, wx, wh, b):
    """One direction over one text's [L, d] inputs, a step at a time,
    gates in the stored order i, f, c̃, o."""
    h_dim = wh.shape[0]
    h = np.zeros(h_dim, dtype=np.float32)
    c = np.zeros(h_dim, dtype=np.float32)
    out = []
    for x_t in x:
        z = x_t @ wx + h @ wh + b
        i, f, g, o = (z[k * h_dim : (k + 1) * h_dim] for k in range(4))
        c = _sigmoid(f) * c + _sigmoid(i) * np.tanh(g)
        h = _sigmoid(o) * np.tanh(c)
        out.append(h)
    return np.array(out, dtype=np.float32).reshape(len(x), h_dim)


def _naive_emissions(ids, p):
    x = p["embed"][ids].astype(np.float32)
    fwd = _naive_lstm(x, p["wx_f"], p["wh_f"], p["b_f"])
    bwd = _naive_lstm(x[::-1], p["wx_b"], p["wh_b"], p["b_b"])[::-1]
    return np.concatenate([fwd, bwd], axis=1) @ p["proj_w"] + p["proj_b"]


@pytest.fixture(scope="module")
def texts():
    turns, _ = transcripts_pdf(60)
    pool = turns["text"].tolist()
    longest = max(pool, key=len)
    assert len(longest) == 38
    shortest = min(pool, key=len)
    assert len(shortest) == 1
    # empty, 1-char and 38-char texts among ordinary ones, unsorted
    return ["", longest, shortest] + pool[:40] + ["", shortest, longest]


def _batch(texts, scheme):
    params, vocab, lut = _cached_model(scheme)
    ids, lengths = M.encode_batch([list(t) for t in texts], vocab, lut=lut)
    return params, ids, lengths


@pytest.mark.parametrize("scheme", ["bio", "bmes"])
def test_packed_emissions_match_naive_lstm(texts, scheme):
    params, ids, lengths = _batch(texts, scheme)
    emit = M.emissions(ids, lengths, params)
    assert emit.shape == (len(texts), ids.shape[1], len(params["proj_b"]))
    for row, n in enumerate(lengths):
        want = _naive_emissions(ids[row, :n], params)
        np.testing.assert_allclose(emit[row, :n], want, rtol=0, atol=1e-5)


@pytest.mark.parametrize("scheme", ["bio", "bmes"])
def test_padded_ids_are_never_read(texts, scheme):
    params, ids, lengths = _batch(texts, scheme)
    noisy = ids.copy()
    pad = np.arange(ids.shape[1])[None, :] >= lengths[:, None]
    rng = np.random.RandomState(0)
    noisy[pad] = rng.randint(0, len(params["embed"]), size=int(pad.sum()))
    assert (noisy != ids).any()
    clean = M.emissions(ids, lengths, params)
    dirty = M.emissions(noisy, lengths, params)
    valid = ~pad
    assert np.array_equal(clean[valid], dirty[valid])


@pytest.mark.parametrize("scheme", ["bio", "bmes"])
def test_viterbi_ignores_padded_emissions(texts, scheme):
    params, ids, lengths = _batch(texts, scheme)
    emit = M.emissions(ids, lengths, params)
    nan = emit.copy()
    nan[np.arange(ids.shape[1])[None, :] >= lengths[:, None]] = np.nan
    assert np.isnan(nan).any()
    paths = M.viterbi_batch(emit, lengths, params["trans"])
    assert [len(p) for p in paths] == lengths.tolist()
    assert M.viterbi_batch(nan, lengths, params["trans"]) == paths
