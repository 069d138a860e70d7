"""Byte-level BPE tokenizer + token-space MetaCAT scoring (reference
medcat/tokenizers/meta_cat_tokenizers.py, utils/meta_cat/data_utils.py)."""

import os

import numpy as np
import pytest

from medcat_spark.core.bbpe import (BbpeTokenizer, bytes_to_unicode,
                                    train_bbpe)
from medcat_spark.functions.lstm_meta import LstmMetaModel


def test_byte_table_bijective():
    t = bytes_to_unicode()
    assert len(t) == 256
    assert len(set(t.values())) == 256


def test_merge_priority_exact():
    """Hand-computed merge order on a crafted merges list."""
    syms = sorted(set(bytes_to_unicode().values()))
    vocab = {s: i for i, s in enumerate(syms)}
    merges = [("h", "e"), ("he", "l"), ("l", "o")]
    for a, b in merges:
        vocab[a + b] = len(vocab)
    tok = BbpeTokenizer(vocab, merges, lowercase=True)
    ids = tok.encode("hello")
    assert [tok.id2tok[i] for i in ids] == ["hel", "lo"]


def test_round_trip_lossless_unicode():
    tok = train_bbpe(["abc déf"], vocab_size=260, lowercase=False)
    for s in ("Héllo wörld — ünïcode!", "tabs\tand\nnewlines",
              "emoji \U0001f600 ok", "plain ascii text."):
        assert tok.decode(tok.encode(s)) == s


def test_save_load_identical(tmp_path):
    tok = train_bbpe(["the patient presented with heart attack"] * 3,
                     vocab_size=280)
    tok.save(str(tmp_path))
    assert os.path.exists(tmp_path / "bbpe-vocab.json")
    assert os.path.exists(tmp_path / "bbpe-merges.txt")
    tok2 = BbpeTokenizer.load(str(tmp_path))
    s = "patient with heart attack"
    assert tok.encode(s) == tok2.encode(s)
    assert tok2.ranks == tok.ranks


def test_offsets_cover_text():
    tok = train_bbpe(["alpha beta gamma delta"] * 2, vocab_size=280)
    text = "alpha beta unknownword gamma"
    ids, spans = tok.encode_with_offsets(text)
    # spans are non-overlapping, ordered, and reconstruct the text
    rebuilt = "".join(text[a:b] for a, b in spans)
    assert rebuilt == text
    assert all(spans[i][1] == spans[i + 1][0] for i in range(len(spans) - 1))


@pytest.fixture(scope="module")
def bbpe_lstm():
    tok = train_bbpe(
        ["the patient presented with heart attack and fever",
         "no heart problems patient stable",
         "spark merge window vector stream filter slow small"] * 4,
        vocab_size=320)
    rs = np.random.RandomState(19)
    V, D, H, C = tok.get_size(), 4, 3, 2

    def r(*shape):
        return rs.uniform(-0.8, 0.8, size=shape).astype(np.float32)

    sd = {"embeddings.weight": r(V, D), "fc1.weight": r(C, 2 * H),
          "fc1.bias": r(C)}
    for suf in ("", "_reverse"):
        sd[f"rnn.weight_ih_l0{suf}"] = r(4 * H, D)
        sd[f"rnn.weight_hh_l0{suf}"] = r(4 * H, H)
        sd[f"rnn.bias_ih_l0{suf}"] = r(4 * H)
        sd[f"rnn.bias_hh_l0{suf}"] = r(4 * H)
    m = LstmMetaModel.from_state_dict(
        sd, ["Affirmed", "Negated"], tok.vocab, pad_id=0,
        unk_id=tok.vocab.get("<unk>", 0), cntx_left=3, cntx_right=3)
    m.tokenizer = tok
    return m


def test_token_space_window_extraction(bbpe_lstm):
    """Scorer windows == hand-derived token-space windows."""
    m = bbpe_lstm
    tok = m.tokenizer
    text = "the patient presented with heart attack and fever"
    start = text.index("heart")
    end = start + len("heart")
    ids, spans = tok.encode_with_offsets(text)
    # hand-derive: tokens overlapping [start, end)
    cf = next(i for i, (a, b) in enumerate(spans) if a <= start < b)
    cl = max(i for i, (a, b) in enumerate(spans) if a < end)
    lo, hi = max(0, cf - 3), min(len(ids), cl + 1 + 3)
    want = m.predict_batch_ids([ids[lo:hi]], [(cf - lo, cl - lo)])[0]

    import pandas as pd
    from medcat_spark.functions.scorer import kernel

    class _Bc:  # broadcast stub
        value = m
    import pyarrow as pa
    rb = pa.RecordBatch.from_pandas(pd.DataFrame({
        "doc_id": ["d1"], "text": [text],
        "ents": [[{"start": start, "end": end, "cui": "C1"}]]}))
    out = list(kernel(_Bc(), "centered", "Negation")(iter([rb])))
    assert len(out) == 1
    row = out[0].to_pandas().iloc[0]
    assert (row["value"], row["confidence"]) == want
    assert row["start"] == start


def test_multitoken_entity_center_range(bbpe_lstm):
    """A multi-subword entity pools over ALL its subword positions."""
    m = bbpe_lstm
    tok = m.tokenizer
    text = "patient has unknownlongword today"
    start = text.index("unknownlongword")
    end = start + len("unknownlongword")
    ids, spans = tok.encode_with_offsets(text)
    cf = next(i for i, (a, b) in enumerate(spans) if a <= start < b)
    cl = max(i for i, (a, b) in enumerate(spans) if a < end)
    assert cl > cf  # really multi-subword
    lo, hi = max(0, cf - 3), min(len(ids), cl + 1 + 3)
    want = m.predict_batch_ids([ids[lo:hi]], [(cf - lo, cl - lo)])[0]

    import pandas as pd
    from medcat_spark.functions.scorer import kernel

    class _Bc:
        value = m
    import pyarrow as pa
    rb = pa.RecordBatch.from_pandas(pd.DataFrame({
        "doc_id": ["d1"], "text": [text],
        "ents": [[{"start": start, "end": end, "cui": "C9"}]]}))
    out = list(kernel(_Bc(), "centered", "Negation")(iter([rb])))
    row = out[0].to_pandas().iloc[0]
    assert (row["value"], row["confidence"]) == want


def test_meta_component_pack_round_trip_with_bbpe(tmp_path, bbpe_lstm):
    from medcat_spark.config import EngineConfig
    from medcat_spark.fixtures import trained_fixture_models
    from medcat_spark.sources.reference_pack import (
        load_reference_pack, write_reference_layout_pack,
        write_reference_meta_component)
    cdb, vocab = trained_fixture_models()
    pack = str(tmp_path / "pack")
    write_reference_layout_pack(pack, cdb, vocab, EngineConfig())
    write_reference_meta_component(os.path.join(pack, "meta_Negation"),
                                   bbpe_lstm, "Negation")
    assert os.path.exists(os.path.join(pack, "meta_Negation",
                                       "bbpe-merges.txt"))
    _c, _v, _cfg, comps = load_reference_pack(pack)
    m2 = comps["Negation"]
    assert m2.tokenizer is not None
    text = "the patient presented with heart attack and fever"
    ids1, sp1 = bbpe_lstm.tokenizer.encode_with_offsets(text)
    ids2, sp2 = m2.tokenizer.encode_with_offsets(text)
    assert ids1 == ids2 and sp1 == sp2
    w = [ids1[:6], ids1[2:9]]
    c = [(1, 2), (0, 0)]
    assert bbpe_lstm.predict_batch_ids(w, c) == m2.predict_batch_ids(w, c)


def test_offsets_survive_expanding_lowercase():
    """'İ' (U+0130) lowercases to 2 chars ('i̇'); naive pre-lowering
    would shift every subsequent offset.  _lower_preserving_length keeps
    such chars unlowered so spans index the ORIGINAL text."""
    tok = train_bbpe(["alpha beta spark vector"] * 2, vocab_size=280,
                     lowercase=True)
    text = "İİzz spark beta"
    ids, spans = tok.encode_with_offsets(text)
    # every span indexes inside the ORIGINAL string (a naive lowercase
    # would shift ends past len(text)) and spans are monotonic
    assert all(0 <= a < b <= len(text) for a, b in spans)
    assert all(spans[i][0] <= spans[i + 1][0]
               for i in range(len(spans) - 1))
    # the token carrying 'spark' (GPT-2 style: leading space included)
    # must sit at the word's ORIGINAL position
    s0 = text.index("spark")
    assert any(b == s0 + 5 and text[a:b].lstrip() == "spark"
               for a, b in spans)
    # control: ordinary uppercase still lowercases (S-> s same length)
    ids2, _ = tok.encode_with_offsets("İİzz SPARK beta")
    assert ids2 == ids


def test_wordpiece_offsets_survive_expanding_lowercase():
    from medcat_spark.core.bbpe import WordPieceTokenizer
    vocab = {"[PAD]": 0, "[UNK]": 1, "spark": 2, "beta": 3, "##zz": 4}
    tok = WordPieceTokenizer(vocab, lowercase=True)
    text = "İzz SPARK beta"
    ids, spans = tok.encode_with_offsets(text)
    s0 = text.index("SPARK")
    assert (2, (s0, s0 + 5)) in list(zip(ids, spans))
    assert (3, (text.index("beta"), text.index("beta") + 4)) in \
        list(zip(ids, spans))
