"""Weight pins for the seven numpy fixture heads.

Every fixture head is trained in process by a seeded numpy trainer and
exported with 4-decimal rounding; the SQL oracles embed those weights as
constants.  A refactor of a trainer or a head's forward must leave the
exported weights unchanged, bit for bit, so each fixture's exported
arrays are pinned here by a sha256 digest.  (A BLAS whose float sums
differ in the last bits may move a rounded weight; the digests hold for
a given numpy build.)
"""

import hashlib

import numpy as np
import pytest

# per model class, the attributes its export consists of
_EXPORT = {
    "MetaCatModel": ("labels", "token_scores", "bias", "cntx_left",
                     "cntx_right"),
    "MlpMetaModel": ("labels", "vocab", "E", "W1", "b1", "W2", "b2",
                     "cntx_left", "cntx_right"),
    "RnnMetaModel": ("labels", "vocab", "E", "fwd", "bwd", "Wo", "bo",
                     "cntx_left", "cntx_right"),
    "RelCatModel": ("labels", "token_scores", "dist_w", "bias",
                    "max_distance"),
    "TokenTagModel": ("labels", "center_scores", "ctx_scores", "bias",
                      "window"),
    "RnnTokenTagger": ("labels", "vocab", "E", "fwd", "bwd", "Wo", "bo"),
}

PINS = {
    "negation_fixture_model":
        "5b42ee06a51b4be724dd6ce45d3a518d51975f193c5f6dae40ea4ef53866001f",
    "negation_mlp_fixture_model":
        "cb2c87a9457f3f8ba0650ac929119d2b54c190adbe57c19bd224150ee3aab0c4",
    "negation_rnn_fixture_model":
        "6a885e69d2aca331f88d0abe2e824608ef0b1f35d99bd1863b3ed38705d46430",
    "relation_fixture_model":
        "978bf6ce5cd98e3e4a32900cfaf28ee82045467496459ab74b4833429f3066ec",
    "rel_rnn_fixture_model":
        "735352b380115d783826b4a5c7d8478ead6c2438bf3e91748da9cb8502e32886",
    "ner_fixture_model":
        "d6b74ec7e84dceb28666d1d273de663a46d1bb9090773062e81fa2983249c185",
    "rnn_tagger_fixture_model":
        "7893effdb7fb65313480fe3434c1c9ff61ea338c6a4d72df77a56bc103ff65d0",
}


def _feed(h, obj) -> None:
    if isinstance(obj, np.ndarray):
        h.update(f"nd{obj.shape}".encode())
        h.update(np.ascontiguousarray(obj, dtype=np.float64).tobytes())
    elif isinstance(obj, dict):
        h.update(b"{")
        for k in sorted(obj):
            h.update(repr(k).encode())
            _feed(h, obj[k])
        h.update(b"}")
    elif isinstance(obj, (list, tuple)):
        h.update(b"[")
        for x in obj:
            _feed(h, x)
        h.update(b"]")
    else:
        h.update(repr(obj).encode())


def export_digest(model) -> str:
    h = hashlib.sha256(type(model).__name__.encode())
    for name in _EXPORT[type(model).__name__]:
        h.update(name.encode())
        _feed(h, getattr(model, name))
    return h.hexdigest()


def _fixture(name: str):
    from medcat_spark.functions import meta_model, ner_model, rel_model
    for mod in (meta_model, rel_model, ner_model):
        if hasattr(mod, name):
            return getattr(mod, name)()
    raise KeyError(name)


@pytest.mark.parametrize("name", sorted(PINS))
def test_fixture_export_is_pinned(name):
    assert export_digest(_fixture(name)) == PINS[name]
