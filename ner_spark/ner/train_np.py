"""Offline single-node training of the tiny fixture model
(SURVEY.md §7 M2 — training is out of the distributed scope; C11).

Strategy: freeze seeded-random embeddings + BiLSTM (reservoir
features), train the emission projection and CRF transitions with the
structured perceptron (Collins, EMNLP 2002 — public literature):

    per sentence: decode with current params (our own Viterbi);
    if predicted path != gold path, update
        proj_w += lr · h_tᵀ(onehot(gold_t) − onehot(pred_t))
        trans[a,b] += lr for gold bigrams, −lr for predicted bigrams
        (including START/STOP transitions)

Deterministic: fixed seed, fixed iteration order, fp32.  On the
templated gazetteer corpus this converges to train-F1 1.0 within a
few epochs, giving a frozen ``model_tiny.npz`` whose spans match the
fixture gold — the stand-in for the reference's frozen checkpoint
(SURVEY.md §0: reference fixtures are unavailable; the single-process
oracle run of this model defines the reference spans).
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import numpy as np

from ner_spark.fixtures.transcripts import transcripts_pdf
from ner_spark.ner import model_np as M
from ner_spark.ner.decode import (
    BIO_TAG2ID,
    BIO_TAGS,
    BMES_TAG2ID,
    BMES_TAGS,
    decode_bio,
    decode_bmes,
    spans_to_bio,
    spans_to_bmes,
)


class Scheme(NamedTuple):
    """One label scheme: its tag set, the span ↔ tag-sequence codec
    and the frozen model trained in it."""

    tags: tuple[str, ...]
    tag2id: dict[str, int]
    encode: Callable  # (n, [(start, end, label)]) → tags
    decode: Callable  # tags → [(start, end, label)]
    path: str


_HERE = os.path.dirname(__file__)
# C9 through the model path: the BMES model has the same architecture
# with its own 13-tag transitions/projection (BASELINE "BIO/BMES via
# batched Viterbi").
SCHEMES = {
    "bio": Scheme(
        BIO_TAGS, BIO_TAG2ID, spans_to_bio, decode_bio,
        os.path.join(_HERE, "model_tiny.npz"),
    ),
    "bmes": Scheme(
        BMES_TAGS, BMES_TAG2ID, spans_to_bmes, decode_bmes,
        os.path.join(_HERE, "model_tiny_bmes.npz"),
    ),
}

# capacity chosen empirically: converges to 0 training errors in ~7
# epochs with lr decay; held-out span P≈1.0, R≈0.999 (1.5k sentences)
D_EMBED = 48
H_LSTM = 48


def init_params(
    vocab: dict[str, int], seed: int = 42, n_tags: int = M.K
) -> dict:
    rng = np.random.RandomState(seed)
    V = len(vocab)

    def u(*shape, scale=0.35):
        return rng.uniform(-scale, scale, size=shape).astype(np.float32)

    p = {
        "embed": u(V, D_EMBED, scale=0.8),
        "wx_f": u(D_EMBED, 4 * H_LSTM),
        "wh_f": u(H_LSTM, 4 * H_LSTM, scale=0.25),
        "b_f": np.zeros(4 * H_LSTM, dtype=np.float32),
        "wx_b": u(D_EMBED, 4 * H_LSTM),
        "wh_b": u(H_LSTM, 4 * H_LSTM, scale=0.25),
        "b_b": np.zeros(4 * H_LSTM, dtype=np.float32),
        "proj_w": np.zeros((2 * H_LSTM, n_tags), dtype=np.float32),
        "proj_b": np.zeros(n_tags, dtype=np.float32),
        "trans": np.zeros((n_tags + 2, n_tags + 2), dtype=np.float32),
    }
    p["embed"][M.PAD_ID] = 0.0
    return p


def _train_sentences(n_convs: int = 400, scheme: str = "bio"):
    """Fixture corpus → [(chars, gold_tag_ids)] in the scheme's label
    set."""
    codec = SCHEMES[scheme]
    turns, gold = transcripts_pdf(n_convs, tier="correctness")
    by_turn: dict[tuple, list] = {}
    for r in gold.itertuples(index=False):
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.start, r.end, r.label)
        )
    sents = []
    for r in turns.itertuples(index=False):
        chars = list(r.text)
        if not chars:
            continue
        spans = sorted(by_turn.get((r.conv_id, r.turn_idx), []))
        tags = codec.encode(len(chars), spans)
        sents.append((chars, [codec.tag2id[t] for t in tags]))
    return sents


def train(
    n_convs: int = 400,
    epochs: int = 30,
    lr0: float = 0.5,
    seed: int = 42,
    scheme: str = "bio",
) -> dict:
    n_tags = len(SCHEMES[scheme].tags)
    start, stop = n_tags, n_tags + 1
    sents = _train_sentences(n_convs, scheme)
    corpus_chars = [ch for chars, _ in sents for ch in chars]
    vocab = M.build_vocab(corpus_chars)
    p = init_params(vocab, seed, n_tags=n_tags)

    # Pre-compute frozen BiLSTM features once (they never change).
    frozen = M.fold_input(p)
    feats = []
    lut = M.vocab_lut(vocab)
    for chars, gold in sents:
        ids, lengths = M.encode_batch([chars], vocab, lut=lut)
        h = M.hidden_states(ids, lengths, frozen)[0, : len(chars)]  # [T,2h]
        feats.append(h)

    for epoch in range(epochs):
        lr = lr0 * (0.9**epoch)
        n_wrong = 0
        for (chars, gold), h in zip(sents, feats):
            emit = (h @ p["proj_w"] + p["proj_b"])[None, :, :]
            pred = M.viterbi_batch(
                emit, np.array([len(chars)], dtype=np.int32), p["trans"]
            )[0]
            if pred == gold:
                continue
            n_wrong += 1
            for t, (g, q) in enumerate(zip(gold, pred)):
                if g != q:
                    p["proj_w"][:, g] += lr * h[t]
                    p["proj_w"][:, q] -= lr * h[t]
                    p["proj_b"][g] += lr
                    p["proj_b"][q] -= lr
            gpath = [start] + gold + [stop]
            qpath = [start] + pred + [stop]
            for a, b in zip(gpath, gpath[1:]):
                p["trans"][a, b] += lr
            for a, b in zip(qpath, qpath[1:]):
                p["trans"][a, b] -= lr
        if n_wrong == 0:
            break
    p["_epochs_run"] = np.array([epoch + 1])
    p["_final_wrong"] = np.array([n_wrong])
    return p | {"vocab_chars": np.array(sorted(set(corpus_chars)), dtype=object)}


def save(p: dict, path: str) -> None:
    np.savez_compressed(path, **p)


def load_or_train(scheme: str = "bio") -> tuple[dict, dict[str, int]]:
    """Load the scheme's committed frozen model; fall back to the packaged
    resource when the package is imported from a ``--py-files`` zip
    (no real filesystem path); (re)train deterministically only if
    neither exists.  Returns (params with ``M.fold_input``'s tables,
    vocab)."""
    path = SCHEMES[scheme].path
    if os.path.exists(path):
        z = np.load(path, allow_pickle=True)
    else:
        import io
        from importlib import resources

        try:
            data = (
                resources.files("ner_spark.ner")
                .joinpath(os.path.basename(path))
                .read_bytes()
            )
            z = np.load(io.BytesIO(data), allow_pickle=True)
        except (FileNotFoundError, ModuleNotFoundError, OSError):
            p = train(scheme=scheme)
            save(p, path)
            z = np.load(path, allow_pickle=True)
    p = {k: z[k] for k in z.files}
    chars = list(p.pop("vocab_chars"))
    vocab = M.build_vocab(chars)
    # The committed models' emissions are defined on an fp16-rounded
    # embedding: it once halved the bytes of the kernel's hot gather.
    # That gather now reads ``fold_input``'s fp32 table, which is built
    # from this rounded embedding, so the rounding stays: without it
    # every emission would move and the spans the models were frozen
    # with could change.  The single-process oracle loads through this
    # same function, so it and the distributed tagger see one table.
    if p["embed"].dtype != np.float16:
        p["embed"] = p["embed"].astype(np.float16)
    return M.fold_input(p), vocab


if __name__ == "__main__":
    import sys

    scheme = sys.argv[1] if len(sys.argv) > 1 else "bio"
    params = train(scheme=scheme)
    save(params, SCHEMES[scheme].path)
    print(
        f"trained {scheme}:",
        {
            "epochs": int(params["_epochs_run"][0]),
            "wrong_last_epoch": int(params["_final_wrong"][0]),
        },
    )
