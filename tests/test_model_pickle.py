"""Pickle round trip of the broadcast model containers: ``VocabModel``
word vectors and ``CdbModel`` context vectors pickle as one stacked
matrix per vector shape, and must come back bit-identical, with the
same dtypes and dict orders."""

import pickle
import random

import numpy as np

from medcat_spark.core.model import CdbModel, VocabModel


def _round_trip(obj):
    return pickle.loads(pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL))


def _same_vectors(a: dict, b: dict) -> None:
    assert list(a) == list(b)
    for k in a:
        assert type(b[k]) is np.ndarray
        assert b[k].dtype == a[k].dtype and b[k].shape == a[k].shape
        assert b[k].tobytes() == a[k].tobytes()


def _vocab() -> VocabModel:
    rng = np.random.RandomState(7)
    v = VocabModel()
    # interleaved: two vector lengths and words without vectors
    for i in range(40):
        vec = None if i % 5 == 0 else rng.randn(3 if i % 2 else 5) * 1e-3
        v.add(f"w{(i * 17) % 40}", cnt=1 + (i * 31) % 97, vec=vec)
    v.word2vec["f32"] = np.arange(3, dtype=np.float32) / 3
    v.word2cnt["f32"] = 2
    return v


def test_vocab_round_trip_is_bit_identical_and_ordered():
    v = _vocab()
    got = _round_trip(v)
    _same_vectors(v.word2vec, got.word2vec)
    assert list(got.word2cnt.items()) == list(v.word2cnt.items())
    assert got.vec("w0") is None and "w0" in got
    assert {x.shape for x in got.word2vec.values()} == {(3,), (5,)}
    # a second round trip packs the unpickled row views the same way
    _same_vectors(v.word2vec, _round_trip(got).word2vec)


def test_vocab_negative_samples_survive_round_trip():
    for build_table_first in (False, True):
        v = _vocab()
        if build_table_first:
            v.make_unigram_table()
        got = _round_trip(v)
        want = v.get_negative_samples(200, random.Random(3))
        assert got.get_negative_samples(200, random.Random(3)) == want


def test_empty_vocab_and_cdb_round_trip():
    v = _round_trip(VocabModel())
    assert v.word2vec == {} and v.word2cnt == {}
    assert v.get_negative_samples(5, random.Random(0)) == []
    c = _round_trip(CdbModel())
    assert c.cui2context_vectors == {}
    assert c.content_hash() == CdbModel().content_hash()


def test_cdb_context_vectors_round_trip(fixture_models):
    cdb, vocab = fixture_models
    assert cdb.cui2context_vectors, "the fixture CDB is trained"
    got = _round_trip(cdb)
    assert list(got.cui2context_vectors) == list(cdb.cui2context_vectors)
    for cui, per_type in cdb.cui2context_vectors.items():
        _same_vectors(per_type, got.cui2context_vectors[cui])
    assert got.name2cuis == cdb.name2cuis
    assert got.content_hash() == cdb.content_hash()
    _same_vectors(vocab.word2vec, _round_trip(vocab).word2vec)


def test_cdb_round_trip_keeps_mixed_vector_shapes():
    cdb = CdbModel()
    cdb.cui2context_vectors = {
        "C2": {"long": np.ones(4), "short": np.arange(2.0)},
        "C1": {"short": np.arange(2.0) - 0.5},
        "C3": {}}
    got = _round_trip(cdb)
    assert list(got.cui2context_vectors) == ["C2", "C1", "C3"]
    for cui, per_type in cdb.cui2context_vectors.items():
        _same_vectors(per_type, got.cui2context_vectors[cui])
