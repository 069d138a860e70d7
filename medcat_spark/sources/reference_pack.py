"""Import/export of MedCAT-format model packs (the adoption path).

A reference model pack (medcat/cat.py:235-337 ``create_model_pack``) is a
zip/directory of::

    cdb.dat            dill dump {'cdb_main': {<non-speciality attrs>}}
                       (JSON format) or {'cdb': {<everything>}} (dill format)
    <speciality>.json  when saved with cdb_format='json': cui2names,
                       cui2snames, cui2type_ids, name2cuis, name2cuis2status,
                       name_isupper, snames, addl_info (+ optional cui2many,
                       name2many) — utils/saving/serializer.py:18-23; sets
                       encoded as {'==SET==': [...]}, regex patterns as
                       {'==PATTERN==': '...'} (utils/saving/coding.py:38-105)
    vocab.dat          plain ``pickle.dump(Vocab.__dict__)`` (vocab.py:262-264)
    config.json        JSON of the config tree (config.py:101-112)
    model_card.json    metadata
    meta_<name>/       MetaCAT: config.json + model.dat (torch state dict,
                       meta_cat.py:359-385) + bbpe-vocab.json/merges
    trf_*/, rel_*/     TransformersNER / RelCAT components
    <spacy model>/     spacy pipeline (ignored here)

``load_reference_pack`` reads all of it WITHOUT medcat/dill/torch/spacy:
the JSON-split maps load as plain JSON; ``cdb.dat``/``vocab.dat`` load
through a restricted unpickler that materializes only builtin/numpy
types (a dill-pickled ``weighted_average_function`` degrades to an inert
stub — its ``factor`` is recovered from config or defaulted);
``meta_*/model.dat`` loads through the pure-numpy torch reader into a
faithful LSTM head (functions/lstm_meta.py).

Limitations (documented, tested):
- legacy ALL-dill packs (cdb_format='dill') load only if the pickled
  maps contain plain builtins/numpy data — medcat class instances inside
  degrade to stubs; the JSON-split format is the supported path.
- ``name2count_train``/``cui2tags``/``cui2info`` have no engine analogue
  and are dropped.
- meta tokenizers: ``bbpe-vocab.json`` is used as a whole-token → id
  map; BPE merge segmentation of UNSEEN tokens is not reimplemented
  (tokens absent from the vocab map to <unk>).

``write_reference_layout_pack`` is the inverse: it writes OUR model in
the reference's JSON-split layout (plain pickle for the .dat files —
dill reads plain pickles, so real MedCAT can load the result).
"""

from __future__ import annotations

import json
import os
import pickle
import re
import tempfile
import zipfile
from typing import Dict, Optional, Tuple

import numpy as np

from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel, VocabModel
from medcat_spark.sources.torch_pickle import (is_inert, read_state_dict,
                                               tolerant_pickle_load)

SPECIALITY_NAMES = (
    "cui2names", "cui2snames", "cui2type_ids",
    "name2cuis", "name2cuis2status", "name_isupper",
    "snames", "addl_info")

# memory_optimiser.py:8-17 combines these (in this order) into one
# cui2many dict {cui: [v0..v7]}; the original attrs become delegating
# markers.  The importer reconstructs the plain dicts.
_CUI_COMBINE = ("cui2names", "cui2snames", "cui2context_vectors",
                "cui2count_train", "cui2tags", "cui2type_ids",
                "cui2preferred_name", "cui2average_confidence")
# optimise_names=True combines these into name2many
# (memory_optimiser.py:15-18; keys are disjoint cui/name spaces)
_NAME_COMBINE = ("cui2names", "name2cuis2status", "cui2preferred_name")
_DELEGATING_DICT = "==DELEGATING_DICT=="
_DELEGATING_SET = "==DELEGATING_SET=="

_SET_ID = "==SET=="
_PATTERN_ID = "==PATTERN=="


def _ref_hook(dct: dict):
    """JSON object hook for the reference's set/pattern encoding."""
    if _SET_ID in dct:
        return set(dct[_SET_ID])
    if _PATTERN_ID in dct:
        return re.compile(dct[_PATTERN_ID])
    return dct


def _read_json(path: str):
    with open(path) as f:
        return json.load(f, object_hook=_ref_hook)


def _encode_sets(obj):
    """Inverse of :func:`_ref_hook` for writing."""
    if isinstance(obj, (set, frozenset)):
        return {_SET_ID: sorted(obj)}
    if isinstance(obj, re.Pattern):
        return {_PATTERN_ID: obj.pattern}
    if isinstance(obj, dict):
        return {k: _encode_sets(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_encode_sets(v) for v in obj]
    return obj


# ---------------------------------------------------------------------------
# config mapping


def engine_config_from_reference(d: dict) -> EngineConfig:
    """Map a reference ``config.json`` dict onto :class:`EngineConfig`.

    Only semantics-bearing fields are mapped (our config docstring);
    unknown fields are ignored.  Field names were chosen to mirror the
    reference (config.py:340-578) so the mapping is mostly 1:1.
    """
    g = d.get("general", {}) or {}
    p = d.get("preprocessing", {}) or {}
    n = d.get("ner", {}) or {}
    lk = d.get("linking", {}) or {}
    cm = d.get("cdb_maker", {}) or {}
    filters = lk.get("filters", {}) or {}
    optim = lk.get("optim", {}) or {}

    def fs(val, default):
        if val is None:
            return default
        return frozenset(val)

    kw: Dict[str, object] = {}

    def put(key, val):
        if val is not None:
            kw[key] = val

    put("separator", g.get("separator"))
    put("spell_check", g.get("spell_check"))
    put("spell_check_deep", g.get("spell_check_deep"))
    put("spell_check_len_limit", g.get("spell_check_len_limit"))
    put("diacritics", g.get("diacritics"))

    if "words_to_skip" in p:
        kw["words_to_skip"] = fs(p["words_to_skip"], frozenset({"nos"}))
    if "keep_punct" in p:
        kw["keep_punct"] = fs(p["keep_punct"], frozenset({".", ":"}))
    if "do_not_normalize" in p:
        kw["do_not_normalize"] = fs(p["do_not_normalize"], frozenset())
    put("skip_stopwords", p.get("skip_stopwords"))
    put("min_len_normalize", p.get("min_len_normalize"))
    put("max_document_length", p.get("max_document_length"))
    if p.get("stopwords") is not None:
        kw["stopwords"] = frozenset(p["stopwords"])

    put("min_name_len", n.get("min_name_len"))
    put("max_skip_tokens", n.get("max_skip_tokens"))
    put("upper_case_limit_len", n.get("upper_case_limit_len"))
    put("check_upper_case_names", n.get("check_upper_case_names"))
    put("try_reverse_word_order", n.get("try_reverse_word_order"))

    put("context_vector_sizes", lk.get("context_vector_sizes"))
    put("context_vector_weights", lk.get("context_vector_weights"))
    put("context_ignore_center_tokens",
        lk.get("context_ignore_center_tokens"))
    put("disamb_length_limit", lk.get("disamb_length_limit"))
    put("filter_before_disamb", lk.get("filter_before_disamb"))
    put("train_count_threshold", lk.get("train_count_threshold"))
    put("always_calculate_similarity",
        lk.get("always_calculate_similarity"))
    put("similarity_threshold_type", lk.get("similarity_threshold_type"))
    put("similarity_threshold", lk.get("similarity_threshold"))
    put("prefer_primary_name", lk.get("prefer_primary_name"))
    put("prefer_frequent_concepts", lk.get("prefer_frequent_concepts"))
    put("random_replacement_unsupervised",
        lk.get("random_replacement_unsupervised"))
    put("negative_probability", lk.get("negative_probability"))
    put("negative_ignore_punct_and_num",
        lk.get("negative_ignore_punct_and_num"))
    if "cuis" in filters:
        kw["filter_cuis"] = frozenset(filters["cuis"] or ())
    put("optim_type", optim.get("type"))
    put("optim_base_lr", optim.get("base_lr"))
    put("optim_min_lr", optim.get("min_lr"))

    # weighted_average_function: a partial in the reference; if the JSON
    # carries a recoverable factor use it, else keep the default 0.0004
    waf = lk.get("weighted_average_function")
    factor = _extract_waf_factor(waf)
    if factor is not None:
        kw["weighted_average_factor"] = factor

    if "name_versions" in cm:
        kw["name_versions"] = tuple(cm["name_versions"])
    put("multi_separator", cm.get("multi_separator"))
    put("min_letters_required", cm.get("min_letters_required"))
    put("remove_parenthesis", cm.get("remove_parenthesis"))

    return EngineConfig(**kw)


def _extract_waf_factor(waf) -> Optional[float]:
    """Dig a ``factor`` kwarg out of whatever JSON shape the reference's
    ``partial(weighted_average, factor=...)`` serialized to."""
    if isinstance(waf, dict):
        for key in ("factor", "keywords"):
            v = waf.get(key)
            if isinstance(v, (int, float)):
                return float(v)
            if isinstance(v, dict) and isinstance(
                    v.get("factor"), (int, float)):
                return float(v["factor"])
    if isinstance(waf, (int, float)):
        return float(waf)
    return None


# ---------------------------------------------------------------------------
# load


def _is_delegating(v) -> bool:
    return (isinstance(v, dict) and
            (_DELEGATING_DICT in v or _DELEGATING_SET in v)) or is_inert(v)


def _undo_memory_optimisation(path: str, json_split: bool,
                              spec: Dict[str, object],
                              cdb_main: dict) -> None:
    """Reconstruct the plain per-attribute dicts of a memory-optimised
    pack (utils/memory_optimiser.py): ``cui2many[cui][nr]`` holds the
    value the nr-th combined dict (``_CUI_COMBINE`` order,
    map_to_many:355-366) had for that cui; the original attributes are
    saved as delegating markers.  snames becomes a DelegatingValueSet
    over cui2snames — rebuilt as the union."""
    def _many(fname: str):
        jp = os.path.join(path, f"{fname}.json")
        if json_split and os.path.exists(jp):
            return _read_json(jp)
        if isinstance(cdb_main.get(fname), dict):
            return _clean(cdb_main[fname])
        return None

    def _rebuild(many: dict, combine) -> None:
        for nr, name in enumerate(combine):
            holder = spec if name in spec else cdb_main
            cur = holder.get(name)
            # honour an explicit marker's own index when present
            use_nr = nr
            if isinstance(cur, dict) and _DELEGATING_DICT in cur:
                use_nr = int(cur[_DELEGATING_DICT].get("nr", nr))
            if cur is not None and not _is_delegating(cur) and cur != {}:
                continue   # attribute was saved unoptimised
            rebuilt = {}
            for key, tup in many.items():
                if isinstance(tup, (list, tuple)) and use_nr < len(tup) \
                        and tup[use_nr] is not None \
                        and not is_inert(tup[use_nr]):
                    rebuilt[key] = tup[use_nr]
            holder[name] = rebuilt

    cui2many = _many("cui2many")
    if cui2many:
        _rebuild(cui2many, _CUI_COMBINE)
    name2many = _many("name2many")
    if name2many:
        _rebuild(name2many, _NAME_COMBINE)
    sn = spec.get("snames")
    if _is_delegating(sn) or not sn:
        c2s = spec.get("cui2snames") or {}
        spec["snames"] = set().union(
            *(set(v) for v in c2s.values())) if c2s else set()


def _clean(obj):
    """Drop inert stubs recursively; keep plain data."""
    if is_inert(obj):
        return None
    if isinstance(obj, dict):
        return {k: _clean(v) for k, v in obj.items() if not is_inert(v)}
    return obj


def load_reference_pack(path: str, load_components: bool = True
                        ) -> Tuple[CdbModel, VocabModel, EngineConfig, dict]:
    """Load a MedCAT model pack (dir or .zip) into engine models.

    Returns ``(cdb, vocab, config, components)`` where ``components``
    maps meta-task names to loaded :class:`LstmMetaModel` heads (plus a
    ``_skipped`` list naming subdirs that could not be loaded).
    """
    if path.endswith(".zip"):
        out_dir = tempfile.mkdtemp(prefix="ref_pack_")
        with zipfile.ZipFile(path) as zf:
            zf.extractall(out_dir)
        path = out_dir
        # a zip created from the pack FOLDER may nest one level
        entries = os.listdir(path)
        if "cdb.dat" not in entries and len(entries) == 1:
            path = os.path.join(path, entries[0])

    cfg_path = os.path.join(path, "config.json")
    ref_cfg = _read_json(cfg_path) if os.path.exists(cfg_path) else {}
    cfg = engine_config_from_reference(ref_cfg)

    # --- cdb.dat main part (tolerant unpickle) ---
    main = tolerant_pickle_load(os.path.join(path, "cdb.dat"))
    if not isinstance(main, dict):
        raise ValueError("cdb.dat did not unpickle to a dict — unsupported "
                         "legacy format")
    if "cdb_main" in main:
        cdb_main = main["cdb_main"]
        json_split = True
    elif "cdb" in main:
        cdb_main = main["cdb"]
        json_split = False
    else:  # very old: attrs at top level
        cdb_main = main
        json_split = os.path.exists(os.path.join(path, "cui2names.json"))

    # embedded old-style config takes effect only if no config.json
    if not ref_cfg and isinstance(cdb_main.get("config"), dict):
        cfg = engine_config_from_reference(cdb_main["config"])

    spec: Dict[str, object] = {}
    for name in SPECIALITY_NAMES:
        jp = os.path.join(path, f"{name}.json")
        if json_split and os.path.exists(jp):
            spec[name] = _read_json(jp)
        elif name in cdb_main:
            spec[name] = _clean(cdb_main[name])
        else:
            spec[name] = {} if name != "snames" else set()

    _undo_memory_optimisation(path, json_split, spec, cdb_main)

    cdb = CdbModel()
    cdb.name2cuis = {k: list(v) for k, v in (spec["name2cuis"] or {}).items()}
    cdb.name2cuis2status = {k: dict(v) for k, v
                            in (spec["name2cuis2status"] or {}).items()}
    cdb.snames = set(spec["snames"] or ())
    cdb.cui2names = {k: set(v) for k, v in (spec["cui2names"] or {}).items()}
    cdb.cui2snames = {k: set(v) for k, v
                      in (spec["cui2snames"] or {}).items()}
    cdb.cui2type_ids = {k: set(v) for k, v
                        in (spec["cui2type_ids"] or {}).items()}
    cdb.name_isupper = dict(spec["name_isupper"] or {})
    addl = spec["addl_info"] or {}
    for key in ("cui2group", "cui2icd10", "cui2ontologies",
                "cui2description", "cui2original_names"):
        if key in addl and addl[key]:
            cdb.addl_info[key] = _clean(addl[key])

    cdb.cui2preferred_name = _clean(cdb_main.get("cui2preferred_name")) or {}
    cdb.cui2count_train = _clean(cdb_main.get("cui2count_train")) or {}
    cdb.cui2average_confidence = _clean(
        cdb_main.get("cui2average_confidence")) or {}
    cdb.vocab = _clean(cdb_main.get("vocab")) or {}
    cvs = cdb_main.get("cui2context_vectors") or {}
    for cui, per_type in cvs.items():
        if is_inert(per_type) or not isinstance(per_type, dict):
            continue
        clean = {ct: np.asarray(v, dtype=np.float64)
                 for ct, v in per_type.items()
                 if isinstance(v, np.ndarray) or (
                     not is_inert(v) and np.ndim(v) == 1)}
        if clean:
            cdb.cui2context_vectors[cui] = clean
    cdb.weighted_average_factor = cfg.weighted_average_factor

    # --- vocab.dat ---
    vocab = VocabModel()
    vpath = os.path.join(path, "vocab.dat")
    if os.path.exists(vpath):
        vd = tolerant_pickle_load(vpath)
        words = vd.get("vocab", {}) if isinstance(vd, dict) else {}
        for word, info in words.items():
            if is_inert(info) or not isinstance(info, dict):
                continue
            vec = info.get("vec")
            if vec is not None and not isinstance(vec, np.ndarray):
                vec = None if is_inert(vec) else np.asarray(
                    vec, dtype=np.float64)
            vocab.add(word, int(info.get("cnt", 1)), vec)
        vocab.make_unigram_table()

    components = (load_component_dirs(path) if load_components
                  else {"_skipped": []})
    return cdb, vocab, cfg, components


def load_component_dirs(path: str) -> dict:
    """Scan a pack dir for ``meta_*``/``rel_*``/``trf_*`` component
    subdirs and load each (failures land in ``_skipped`` with the
    reason).  Shared by MedCAT-layout pack loading and by columnar
    packs that carry component dirs (jobs/train_model.py --train-meta
    writes them there)."""
    components: dict = {"_skipped": []}
    for entry in sorted(os.listdir(path)):
        sub = os.path.join(path, entry)
        if not os.path.isdir(sub):
            continue
        if entry.startswith("meta_"):
            try:
                components[entry[len("meta_"):]] = _load_meta_component(sub)
            except Exception as exc:  # noqa: BLE001 — skip, report
                components["_skipped"].append((entry, str(exc)))
        elif entry.startswith("rel_"):
            try:
                components[entry] = _load_rel_component(sub)
            except Exception as exc:  # noqa: BLE001 — skip, report
                components["_skipped"].append((entry, str(exc)))
        elif entry.startswith("trf_"):
            try:
                components[entry] = _load_trf_component(sub)
            except Exception as exc:  # noqa: BLE001 — skip, report
                components["_skipped"].append((entry, str(exc)))
    return components


def _load_meta_component(sub: str):
    """meta_<name>/ -> LstmMetaModel (config.json + model.dat +
    bbpe-vocab.json token map)."""
    from medcat_spark.functions.lstm_meta import LstmMetaModel
    with open(os.path.join(sub, "config.json")) as f:
        mc = json.load(f, object_hook=_ref_hook)
    g = mc.get("general", {}) or {}
    model_cfg = mc.get("model", {}) or {}
    val2id = g.get("category_value2id") or {}
    labels = [v for v, _ in sorted(val2id.items(), key=lambda kv: kv[1])]
    tokenizer = None
    token2id: Dict[str, int] = {}
    if os.path.exists(os.path.join(sub, "bbpe-merges.txt")):
        # full byte-level BPE: real subword segmentation of unseen text
        from medcat_spark.core.bbpe import BbpeTokenizer
        tokenizer = BbpeTokenizer.load(
            sub, "bbpe", lowercase=bool(g.get("lowercase", True)))
        token2id = tokenizer.vocab
    else:
        for cand in ("bbpe-vocab.json", "vocab.json",
                     "bert-tokenizer-vocab.json"):
            vp = os.path.join(sub, cand)
            if os.path.exists(vp):
                with open(vp) as f:
                    token2id = {str(k): int(v)
                                for k, v in json.load(f).items()}
                break
    sd = read_state_dict(os.path.join(sub, "model.dat"))
    pad = model_cfg.get("padding_idx", 0)
    if pad in (None, -1):
        pad = 0
    unk = token2id.get("<unk>", token2id.get("[UNK]", pad))
    if any(k.startswith("bert.") for k in sd):
        # model_name='bert' variant (BertForMetaAnnotation)
        from medcat_spark.functions.bert_np import BertMetaModel
        arch = model_cfg.get("model_architecture_config") or {}
        hf = {}
        mcp = os.path.join(sub, "model_config.json")
        if os.path.exists(mcp):
            with open(mcp) as f:
                hf = json.load(f)
        m = BertMetaModel.from_state_dict(
            sd, labels or ["0", "1"],
            n_heads=int(hf.get("num_attention_heads", 12)),
            use_fc2=bool(arch.get("fc2", True)),
            use_fc3=bool(arch.get("fc3", True)),
            pad_id=int(pad),
            cntx_left=int(g.get("cntx_left", 15)),
            cntx_right=int(g.get("cntx_right", 10)))
        if tokenizer is None:
            # fail at LOAD time (component lands in _skipped) — the
            # BERT meta scorer needs a subword tokenizer and would
            # otherwise ValueError inside the scorer kernel at executor time
            # (same policy as the rel_* tokenizer/tag-id validation)
            raise ValueError(
                "BERT meta component has no recoverable tokenizer "
                "(need bbpe-merges.txt alongside bbpe-vocab.json, or "
                "vocab.txt / tokenizer.json)")
        m.tokenizer = tokenizer
        return m
    m = LstmMetaModel.from_state_dict(
        sd, labels or ["0", "1"], token2id, pad_id=int(pad), unk_id=int(unk),
        cntx_left=int(g.get("cntx_left", 15)),
        cntx_right=int(g.get("cntx_right", 10)))
    m.tokenizer = tokenizer
    return m


def _load_rel_component(sub: str):
    """rel_<name>/ (RelCAT component dir, utils/relation_extraction/
    base_component.py:80-101): config.json (ConfigRelCAT) +
    model_config.json (HF config) + model.dat (plain state dict) +
    tokenizer files → RelCatBertModel or RelCatLlamaModel."""
    with open(os.path.join(sub, "config.json")) as f:
        rc = json.load(f, object_hook=_ref_hook)
    g = rc.get("general", {}) or {}
    model_cfg = rc.get("model", {}) or {}
    hf = {}
    mcp = os.path.join(sub, "model_config.json")
    if os.path.exists(mcp):
        with open(mcp) as f:
            hf = json.load(f)
    idx2labels = g.get("idx2labels") or rc.get("train", {}).get(
        "idx2labels") or {}
    if idx2labels:
        labels = [v for _k, v in sorted(idx2labels.items(),
                                        key=lambda kv: int(kv[0]))]
    else:
        l2i = g.get("labels2idx") or {}
        labels = [k for k, _v in sorted(l2i.items(), key=lambda kv: kv[1])]
    labels = labels or [str(i) for i in
                        range(int(model_cfg.get("nclasses", 2)))]
    n_heads = int(hf.get("num_attention_heads", 12))
    sd = read_state_dict(os.path.join(sub, "model.dat"))
    model_name = str(g.get("model_name", "bert")).lower()
    if "modern" in model_name or any("tok_embeddings" in k for k in sd):
        from medcat_spark.functions.modernbert_np import (
            RelCatModernBertModel)
        m = RelCatModernBertModel.from_state_dict(
            sd, labels, n_heads,
            local_window=int(hf.get("local_attention", 128)),
            global_every=int(hf.get("global_attn_every_n_layers", 3)),
            global_theta=float(hf.get("global_rope_theta", 160000.0)),
            local_theta=float(hf.get("local_rope_theta", 10000.0)))
    elif "llama" in model_name or any("gate_proj" in k for k in sd):
        from medcat_spark.functions.llama_np import RelCatLlamaModel
        m = RelCatLlamaModel.from_state_dict(
            sd, labels, n_heads, hf.get("num_key_value_heads"))
        if "llama_use_pooled_output" in model_cfg:
            # config wins over the fc1-shape inference
            m.use_pooled_output = bool(model_cfg["llama_use_pooled_output"])
    else:
        from medcat_spark.functions.bert_np import RelCatBertModel
        m = RelCatBertModel.from_state_dict(sd, labels, n_heads)
    tokenizer = _tokenizer_from_dir(sub)
    if tokenizer is None:
        # fail at load time into _skipped (like the tag-id check) —
        # relations_bert would otherwise AttributeError in an executor
        raise ValueError("no recoverable tokenizer artifact (vocab.txt / "
                         "bbpe-* / tokenizer.json / tokenizer.model / "
                         "tokenizer.dat state)")
    m.tokenizer = tokenizer
    tag_ids = g.get("annotation_schema_tag_ids") or []
    if not tag_ids and tokenizer is not None:
        tag_ids = [tokenizer.vocab.get(t) for t in
                   ("[s1]", "[e1]", "[s2]", "[e2]")]
    m.tag_ids = [int(t) for t in tag_ids if t is not None]
    if len(m.tag_ids) != 4:
        # fail at LOAD time (component lands in _skipped with this
        # message) instead of a ValueError inside the scorer kernel later
        raise ValueError(
            f"annotation schema needs 4 tag ids ([s1]/[e1]/[s2]/[e2]); "
            f"got {m.tag_ids} from config/tokenizer")
    m.cntx_left = int(g.get("cntx_left", 15))
    m.cntx_right = int(g.get("cntx_right", 15))  # config_rel_cat.py:20
    # reference window_size lives in config.general and bounds the CHAR
    # distance between entity start positions (rel_dataset.py:216)
    m.window_size_chars = int(g.get("window_size", 300))
    m.max_seq_length = int(g.get("max_seq_length", 512))
    return m


def _tokenizer_from_dir(sub: str, lowercase_default: bool = True):
    """Best-effort tokenizer recovery from a component dir, trying every
    artifact real packs ship: ``vocab.txt`` (WordPiece), ``bbpe-*``
    (byte BPE), ``tokenizer.json`` (HF fast-tokenizer serialization),
    ``tokenizer.model`` (sentencepiece protobuf — LLaMA packs),
    and ``tokenizer.dat`` (a dill of the wrapper whose pickled HF
    tokenizer STATE embeds the vocab — recovered through the tolerant
    unpickler's state capture).  Returns None when nothing usable."""
    from medcat_spark.core.bbpe import BbpeTokenizer, WordPieceTokenizer

    lower = lowercase_default
    tcp = os.path.join(sub, "tokenizer_config.json")
    if os.path.exists(tcp):
        try:
            with open(tcp) as f:
                tc = json.load(f)
            if isinstance(tc.get("do_lower_case"), bool):
                lower = tc["do_lower_case"]
        except (OSError, ValueError):
            pass

    if os.path.exists(os.path.join(sub, "vocab.txt")):
        return WordPieceTokenizer.load(sub, lowercase=lower)
    if os.path.exists(os.path.join(sub, "bbpe-merges.txt")):
        return BbpeTokenizer.load(sub, "bbpe", lowercase=lower)

    def _from_tok_json(j: dict):
        model = j.get("model") or {}
        vocab = model.get("vocab")
        if not isinstance(vocab, dict) or not vocab:
            return None
        if model.get("type") == "BPE":
            merges = [tuple(m.split(" ", 1)) if isinstance(m, str)
                      else tuple(m) for m in model.get("merges", [])]
            return BbpeTokenizer({str(k): int(v) for k, v in vocab.items()},
                                 merges, lowercase=lower)
        return WordPieceTokenizer({str(k): int(v)
                                   for k, v in vocab.items()},
                                  lowercase=lower)

    tj = os.path.join(sub, "tokenizer.json")
    if os.path.exists(tj):
        try:
            with open(tj, encoding="utf-8") as f:
                tok = _from_tok_json(json.load(f))
            if tok is not None:
                return tok
        except (OSError, ValueError):
            pass

    tm = os.path.join(sub, "tokenizer.model")
    if os.path.exists(tm):
        # sentencepiece protobuf — the only tokenizer artifact real
        # LLaMA rel_* components ship (HF LlamaTokenizer loads it;
        # reference: utils/relation_extraction/tokenizer.py,
        # TokenizerWrapperLlama)
        from medcat_spark.core.sentencepiece import SentencePieceTokenizer
        try:
            with open(tm, "rb") as f:
                return SentencePieceTokenizer.from_bytes(f.read())
        except (ValueError, UnicodeDecodeError):
            pass

    td = os.path.join(sub, "tokenizer.dat")
    if os.path.exists(td):
        obj = tolerant_pickle_load(td)
        found = {"vocab": None, "json": None, "lower": None}
        seen = set()

        def walk(o, depth=0):
            if depth > 8 or id(o) in seen:
                return
            seen.add(id(o))
            if is_inert(o):
                walk(getattr(o, "state", None), depth + 1)
                walk(getattr(o, "args", None), depth + 1)
                return
            if isinstance(o, str):
                s = o.lstrip()
                if len(s) > 50 and s.startswith("{") and \
                        found["json"] is None:
                    try:
                        j = json.loads(o)
                    except ValueError:
                        return
                    if isinstance(j, dict) and isinstance(
                            j.get("model"), dict):
                        found["json"] = j
                return
            if isinstance(o, dict):
                v = o.get("vocab")
                if found["vocab"] is None and isinstance(v, dict) and v:
                    items = list(v.items())[:5]
                    if all(isinstance(k, str) and isinstance(x, int)
                           for k, x in items):
                        found["vocab"] = v
                if isinstance(o.get("do_lower_case"), bool):
                    found["lower"] = o["do_lower_case"]
                for val in o.values():
                    walk(val, depth + 1)
            elif isinstance(o, (list, tuple)):
                for val in o:
                    walk(val, depth + 1)

        walk(obj)
        if found["lower"] is not None:
            lower = found["lower"]
        if found["json"] is not None:
            tok = _from_tok_json(found["json"])
            if tok is not None:
                return tok
        if found["vocab"] is not None:
            return WordPieceTokenizer(
                {str(k): int(v) for k, v in found["vocab"].items()},
                lowercase=lower)
    return None


def _load_trf_component(sub: str):
    """trf_<name>/ (TransformersNER, ner/transformers_ner.py:337-360):
    HF ``save_pretrained`` output (config.json + model.safetensors or
    pytorch_model.bin) + cat_config.json + tokenizer.  Loads
    BertForTokenClassification weights into the numpy
    BertTokenClassifier; labels from HF config id2label."""
    from medcat_spark.functions.bert_np import BertTokenClassifier
    from medcat_spark.sources.torch_pickle import read_safetensors
    with open(os.path.join(sub, "config.json")) as f:
        hf = json.load(f)
    id2label = hf.get("id2label") or {}
    labels = [v for _k, v in sorted(id2label.items(),
                                    key=lambda kv: int(kv[0]))] \
        or [str(i) for i in range(int(hf.get("num_labels", 2)))]
    st = os.path.join(sub, "model.safetensors")
    if os.path.exists(st):
        sd = read_safetensors(st)
    else:
        sd = read_state_dict(os.path.join(sub, "pytorch_model.bin"))
    m = BertTokenClassifier.from_state_dict(
        sd, labels, int(hf.get("num_attention_heads", 12)))
    # honour a do_lower_case carried in the HF config (some exports put
    # it there instead of tokenizer_config.json)
    m.tokenizer = _tokenizer_from_dir(
        sub, lowercase_default=bool(hf.get("do_lower_case", True)))
    # real packs ship tokenizer.dat (transformers_ner.py:118-120);
    # recovery can fail for exotic formats — record why instead of
    # crashing later
    m.tokenizer_note = None if m.tokenizer is not None else \
        "no recoverable tokenizer artifact (vocab.txt / tokenizer.json " \
        "/ tokenizer.dat state); provide token ids directly"
    return m


# ---------------------------------------------------------------------------
# write (reference layout) — fixture generator AND exporter


def reference_config_dict(cfg: EngineConfig) -> dict:
    """Our config in the reference's nested JSON shape."""
    return {
        "general": {
            "separator": cfg.separator,
            "spell_check": cfg.spell_check,
            "spell_check_deep": cfg.spell_check_deep,
            "spell_check_len_limit": cfg.spell_check_len_limit,
            "diacritics": cfg.diacritics,
            "spacy_model": "en_core_web_md",
        },
        "preprocessing": {
            "words_to_skip": set(cfg.words_to_skip),
            "keep_punct": set(cfg.keep_punct),
            "do_not_normalize": set(cfg.do_not_normalize),
            "skip_stopwords": cfg.skip_stopwords,
            "min_len_normalize": cfg.min_len_normalize,
            "max_document_length": cfg.max_document_length,
            "stopwords": (set(cfg.stopwords)
                          if cfg.stopwords is not None else None),
        },
        "ner": {
            "min_name_len": cfg.min_name_len,
            "max_skip_tokens": cfg.max_skip_tokens,
            "upper_case_limit_len": cfg.upper_case_limit_len,
            "check_upper_case_names": cfg.check_upper_case_names,
            "try_reverse_word_order": cfg.try_reverse_word_order,
        },
        "linking": {
            "context_vector_sizes": dict(cfg.context_vector_sizes),
            "context_vector_weights": dict(cfg.context_vector_weights),
            "context_ignore_center_tokens": cfg.context_ignore_center_tokens,
            "disamb_length_limit": cfg.disamb_length_limit,
            "filter_before_disamb": cfg.filter_before_disamb,
            "train_count_threshold": cfg.train_count_threshold,
            "always_calculate_similarity": cfg.always_calculate_similarity,
            "similarity_threshold_type": cfg.similarity_threshold_type,
            "similarity_threshold": cfg.similarity_threshold,
            "prefer_primary_name": cfg.prefer_primary_name,
            "prefer_frequent_concepts": cfg.prefer_frequent_concepts,
            "random_replacement_unsupervised":
                cfg.random_replacement_unsupervised,
            "negative_probability": cfg.negative_probability,
            "negative_ignore_punct_and_num":
                cfg.negative_ignore_punct_and_num,
            "filters": {"cuis": set(cfg.filter_cuis)},
            "optim": {"type": cfg.optim_type, "base_lr": cfg.optim_base_lr,
                      "min_lr": cfg.optim_min_lr},
            "weighted_average_function": {
                "factor": cfg.weighted_average_factor},
        },
        "cdb_maker": {
            "name_versions": list(cfg.name_versions),
            "multi_separator": cfg.multi_separator,
            "min_letters_required": cfg.min_letters_required,
            "remove_parenthesis": cfg.remove_parenthesis,
        },
        "version": {"id": "medcat-spark-export"},
    }


def write_reference_layout_pack(path: str, cdb: CdbModel, vocab: VocabModel,
                                cfg: Optional[EngineConfig] = None,
                                as_zip: bool = False) -> str:
    """Write our model in the reference's JSON-split pack layout.

    The .dat files are PLAIN pickle (dill — which the reference uses to
    read them — accepts plain pickles), so real MedCAT can load the
    result; also the round-trip fixture for :func:`load_reference_pack`.
    """
    cfg = cfg or EngineConfig()
    os.makedirs(path, exist_ok=True)

    spec = {
        "cui2names": {c: set(v) for c, v in cdb.cui2names.items()},
        "cui2snames": {c: set(v) for c, v in cdb.cui2snames.items()},
        "cui2type_ids": {c: set(v) for c, v in cdb.cui2type_ids.items()},
        "name2cuis": dict(cdb.name2cuis),
        "name2cuis2status": dict(cdb.name2cuis2status),
        "name_isupper": dict(cdb.name_isupper),
        "snames": set(cdb.snames),
        "addl_info": dict(cdb.addl_info),
    }
    for name, obj in spec.items():
        with open(os.path.join(path, f"{name}.json"), "w") as f:
            json.dump(_encode_sets(obj), f)

    cdb_main = {
        "cui2context_vectors": {
            c: {ct: np.asarray(v) for ct, v in per.items()}
            for c, per in cdb.cui2context_vectors.items()},
        "cui2count_train": dict(cdb.cui2count_train),
        "cui2info": {},
        "cui2tags": {},
        "cui2preferred_name": dict(cdb.cui2preferred_name),
        "cui2average_confidence": dict(cdb.cui2average_confidence),
        "name2count_train": {},
        "vocab": dict(cdb.vocab),
        "_optim_params": None,
        "is_dirty": False,
    }
    with open(os.path.join(path, "cdb.dat"), "wb") as f:
        pickle.dump({"cdb_main": cdb_main}, f, protocol=4)

    vd = {"vocab": {}, "index2word": {}, "vec_index2word": {},
          "cum_probs": np.array([])}
    for ind, word in enumerate(sorted(vocab.word2cnt)):
        vec = vocab.vec(word)
        vd["vocab"][word] = {
            "vec": None if vec is None else np.asarray(vec),
            "cnt": int(vocab.word2cnt[word]), "ind": ind}
        vd["index2word"][ind] = word
        if vec is not None:
            vd["vec_index2word"][ind] = word
    with open(os.path.join(path, "vocab.dat"), "wb") as f:
        pickle.dump(vd, f, protocol=4)

    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(_encode_sets(reference_config_dict(cfg)), f)
    with open(os.path.join(path, "model_card.json"), "w") as f:
        json.dump({"Model ID": "medcat-spark-export",
                   "Description": "exported by medcat_spark"}, f)

    if as_zip:
        zpath = path.rstrip("/") + ".zip"
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, path))
        return zpath
    return path


def write_reference_rel_component(path: str, model, labels=None,
                                  n_heads: int = 2) -> str:
    """Write a RelCAT component dir in the reference layout (fixture +
    exporter twin of :func:`_load_rel_component`)."""
    from medcat_spark.sources.torch_pickle import write_state_dict
    os.makedirs(path, exist_ok=True)
    labels = labels or model.labels
    is_llama = model.__class__.__name__ == "RelCatLlamaModel"
    rc = {
        "general": {
            "model_name": "llama" if is_llama else "bert-base-uncased",
            "tokenizer_name": "llama" if is_llama else "bert-tokenizer",
            "labels2idx": {v: i for i, v in enumerate(labels)},
            "idx2labels": {str(i): v for i, v in enumerate(labels)},
            "annotation_schema_tag_ids": list(
                getattr(model, "tag_ids", [])),
            "cntx_left": getattr(model, "cntx_left",
                                 getattr(model, "cntx", 15)),
            "cntx_right": getattr(model, "cntx_right", 15),
            "window_size": getattr(model, "window_size_chars", 300),
            "max_seq_length": getattr(model, "max_seq_length", 512),
        },
        "model": {
            "nclasses": len(labels),
            "padding_idx": 0,
            "llama_use_pooled_output": bool(
                getattr(model, "use_pooled_output", False)),
        },
    }
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(rc, f)
    with open(os.path.join(path, "model_config.json"), "w") as f:
        json.dump({"num_attention_heads": n_heads}, f)
    sd: Dict[str, np.ndarray] = {}
    if is_llama:
        enc = model.encoder
        sd["hf_model.model.embed_tokens.weight"] = \
            enc.embed.astype(np.float32)
        sd["hf_model.model.norm.weight"] = enc.final_norm.astype(np.float32)
        for i, lay in enumerate(enc.layers):
            lp = f"hf_model.model.layers.{i}."
            sd[lp + "self_attn.q_proj.weight"] = lay.q.astype(np.float32)
            sd[lp + "self_attn.k_proj.weight"] = lay.k.astype(np.float32)
            sd[lp + "self_attn.v_proj.weight"] = lay.v.astype(np.float32)
            sd[lp + "self_attn.o_proj.weight"] = lay.o.astype(np.float32)
            sd[lp + "mlp.gate_proj.weight"] = lay.gate.astype(np.float32)
            sd[lp + "mlp.up_proj.weight"] = lay.up.astype(np.float32)
            sd[lp + "mlp.down_proj.weight"] = lay.down.astype(np.float32)
            sd[lp + "input_layernorm.weight"] = lay.ln1.astype(np.float32)
            sd[lp + "post_attention_layernorm.weight"] = \
                lay.ln2.astype(np.float32)
        sd["llama_pooler.dense.weight"] = model.pool_w.astype(np.float32)
        sd["llama_pooler.dense.bias"] = model.pool_b.astype(np.float32)
    else:
        enc = model.encoder
        pre = "hf_model."
        sd[pre + "embeddings.word_embeddings.weight"] = \
            enc.word.astype(np.float32)
        sd[pre + "embeddings.position_embeddings.weight"] = \
            enc.pos.astype(np.float32)
        sd[pre + "embeddings.token_type_embeddings.weight"] = \
            enc.ttype.astype(np.float32)
        sd[pre + "embeddings.LayerNorm.weight"] = \
            enc.eln_w.astype(np.float32)
        sd[pre + "embeddings.LayerNorm.bias"] = enc.eln_b.astype(np.float32)
        for i, lay in enumerate(enc.layers):
            lp = f"{pre}encoder.layer.{i}."
            sd[lp + "attention.self.query.weight"] = \
                lay.q_w.astype(np.float32)
            sd[lp + "attention.self.query.bias"] = lay.q_b.astype(np.float32)
            sd[lp + "attention.self.key.weight"] = lay.k_w.astype(np.float32)
            sd[lp + "attention.self.key.bias"] = lay.k_b.astype(np.float32)
            sd[lp + "attention.self.value.weight"] = \
                lay.v_w.astype(np.float32)
            sd[lp + "attention.self.value.bias"] = lay.v_b.astype(np.float32)
            sd[lp + "attention.output.dense.weight"] = \
                lay.ao_w.astype(np.float32)
            sd[lp + "attention.output.dense.bias"] = \
                lay.ao_b.astype(np.float32)
            sd[lp + "attention.output.LayerNorm.weight"] = \
                lay.aln_w.astype(np.float32)
            sd[lp + "attention.output.LayerNorm.bias"] = \
                lay.aln_b.astype(np.float32)
            sd[lp + "intermediate.dense.weight"] = \
                lay.i_w.astype(np.float32)
            sd[lp + "intermediate.dense.bias"] = lay.i_b.astype(np.float32)
            sd[lp + "output.dense.weight"] = lay.o_w.astype(np.float32)
            sd[lp + "output.dense.bias"] = lay.o_b.astype(np.float32)
            sd[lp + "output.LayerNorm.weight"] = \
                lay.oln_w.astype(np.float32)
            sd[lp + "output.LayerNorm.bias"] = lay.oln_b.astype(np.float32)
        sd[pre + "pooler.dense.weight"] = \
            enc.pooler_w.astype(np.float32)
        sd[pre + "pooler.dense.bias"] = enc.pooler_b.astype(np.float32)
    for k in ("fc1", "fc2", "fc3"):
        sd[f"{k}.weight"] = getattr(model, f"{k}_w").astype(np.float32)
        sd[f"{k}.bias"] = getattr(model, f"{k}_b").astype(np.float32)
    write_state_dict(os.path.join(path, "model.dat"), sd)
    tok = getattr(model, "tokenizer", None)
    if tok is not None:
        tok.save(path)
    return path


def write_reference_meta_component(path: str, model, category_name: str,
                                   tokenizer_name: str = "bbpe") -> str:
    """Write an LstmMetaModel or BertMetaModel as a reference
    ``meta_<name>/`` dir (config.json + torch-format model.dat +
    tokenizer files)."""
    from medcat_spark.functions.bert_np import BertMetaModel
    from medcat_spark.sources.torch_pickle import write_state_dict
    os.makedirs(path, exist_ok=True)
    if isinstance(model, BertMetaModel):
        return _write_bert_meta_component(path, model, category_name,
                                          tokenizer_name)
    H = model.layers[0][0].H
    ndir = 2 if model.layers[0][1] is not None else 1
    mc = {
        "general": {
            "category_name": category_name,
            "category_value2id": {v: i for i, v in enumerate(model.labels)},
            "cntx_left": model.cntx_left,
            "cntx_right": model.cntx_right,
            "tokenizer_name": tokenizer_name,
            "vocab_size": int(model.E.shape[0]),
            "lowercase": True,
        },
        "model": {
            "model_name": "lstm",
            "num_layers": len(model.layers),
            "input_size": int(model.E.shape[1]),
            "hidden_size": H * ndir,
            "num_directions": ndir,
            "nclasses": len(model.labels),
            "padding_idx": model.pad_id,
            "emb_grad": True,
            "dropout": 0.5,
        },
    }
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(mc, f)
    if getattr(model, "tokenizer", None) is not None:
        model.tokenizer.save(path, tokenizer_name)
    else:
        with open(os.path.join(path, f"{tokenizer_name}-vocab.json"),
                  "w") as f:
            json.dump(model.token2id, f)
    write_state_dict(os.path.join(path, "model.dat"),
                     model.export_state_dict())
    return path


def _write_bert_meta_component(path: str, model, category_name: str,
                               tokenizer_name: str = "bbpe") -> str:
    """BertMetaModel → meta_<name>/ dir in the reference's
    model_name='bert' layout (bert.* state-dict keys, fc1..fc4 head,
    model_config.json head count) — inverse of the BERT branch in
    :func:`_load_meta_component`."""
    from medcat_spark.sources.torch_pickle import write_state_dict
    enc = model.encoder
    mc = {
        "general": {
            "category_name": category_name,
            "category_value2id": {v: i for i, v in enumerate(model.labels)},
            "cntx_left": model.cntx_left,
            "cntx_right": model.cntx_right,
            "tokenizer_name": tokenizer_name,
            "vocab_size": int(enc.word.shape[0]),
            "lowercase": True,
        },
        "model": {
            "model_name": "bert",
            "nclasses": len(model.labels),
            "padding_idx": model.pad_id,
            "model_architecture_config": {"fc2": bool(model.use_fc2),
                                          "fc3": bool(model.use_fc3)},
        },
    }
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump(mc, f)
    with open(os.path.join(path, "model_config.json"), "w") as f:
        json.dump({"num_attention_heads": enc.n_heads}, f)
    sd: Dict[str, np.ndarray] = {}
    pre = "bert."
    sd[pre + "embeddings.word_embeddings.weight"] = \
        enc.word.astype(np.float32)
    sd[pre + "embeddings.position_embeddings.weight"] = \
        enc.pos.astype(np.float32)
    sd[pre + "embeddings.token_type_embeddings.weight"] = \
        enc.ttype.astype(np.float32)
    sd[pre + "embeddings.LayerNorm.weight"] = enc.eln_w.astype(np.float32)
    sd[pre + "embeddings.LayerNorm.bias"] = enc.eln_b.astype(np.float32)
    for i, lay in enumerate(enc.layers):
        lp = f"{pre}encoder.layer.{i}."
        sd[lp + "attention.self.query.weight"] = lay.q_w.astype(np.float32)
        sd[lp + "attention.self.query.bias"] = lay.q_b.astype(np.float32)
        sd[lp + "attention.self.key.weight"] = lay.k_w.astype(np.float32)
        sd[lp + "attention.self.key.bias"] = lay.k_b.astype(np.float32)
        sd[lp + "attention.self.value.weight"] = lay.v_w.astype(np.float32)
        sd[lp + "attention.self.value.bias"] = lay.v_b.astype(np.float32)
        sd[lp + "attention.output.dense.weight"] = \
            lay.ao_w.astype(np.float32)
        sd[lp + "attention.output.dense.bias"] = lay.ao_b.astype(np.float32)
        sd[lp + "attention.output.LayerNorm.weight"] = \
            lay.aln_w.astype(np.float32)
        sd[lp + "attention.output.LayerNorm.bias"] = \
            lay.aln_b.astype(np.float32)
        sd[lp + "intermediate.dense.weight"] = lay.i_w.astype(np.float32)
        sd[lp + "intermediate.dense.bias"] = lay.i_b.astype(np.float32)
        sd[lp + "output.dense.weight"] = lay.o_w.astype(np.float32)
        sd[lp + "output.dense.bias"] = lay.o_b.astype(np.float32)
        sd[lp + "output.LayerNorm.weight"] = lay.oln_w.astype(np.float32)
        sd[lp + "output.LayerNorm.bias"] = lay.oln_b.astype(np.float32)
    if enc.pooler_w is not None:
        sd[pre + "pooler.dense.weight"] = enc.pooler_w.astype(np.float32)
        sd[pre + "pooler.dense.bias"] = enc.pooler_b.astype(np.float32)
    for k, v in model.fc.items():
        sd[k] = np.asarray(v).astype(np.float32)
    write_state_dict(os.path.join(path, "model.dat"), sd)
    tok = getattr(model, "tokenizer", None)
    if tok is not None:
        tok.save(path, tokenizer_name)
    return path
