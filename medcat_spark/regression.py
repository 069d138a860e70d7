"""Template-based regression checker (reference: medcat/utils/regression/,
checking.py:22-131, README grading levels).

Phrases with ``[CONCEPT]`` placeholders are filled from the model's names
for target CUIs; the filled phrase is annotated and graded:

  IDENTICAL    — an annotation exactly spans the filled name with the
                 target CUI
  SMALLER_SPAN — a target-CUI annotation overlaps but does not cover the
                 whole filled span
  FOUND_ANY    — some annotation overlaps the span (wrong CUI)
  FAIL         — nothing overlaps

Runs the production kernel per case; distributable through the same
``worker.kernel`` mapInArrow when suites get large.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Tuple

from medcat_spark.config import EngineConfig
from medcat_spark.core.annotate import annotate_document
from medcat_spark.core.model import CdbModel, VocabModel
from medcat_spark.core.normalizer import SpellChecker

PLACEHOLDER = "[CONCEPT]"


@dataclass
class RegressionCase:
    name: str
    phrase: str          # contains [CONCEPT]
    target_cui: str


def fill_variants(case: RegressionCase, cdb: CdbModel,
                  config: EngineConfig) -> List[Tuple[str, str, int, int]]:
    """(filled_text, used_name, start, end) for every raw-ish name of the
    target CUI (we fill with the '~'-names space-joined, mirroring the
    reference's use of ontology names per placeholder)."""
    out = []
    for name in sorted(cdb.cui2names.get(case.target_cui, ())):
        surface = name.replace(config.separator, " ")
        start = case.phrase.index(PLACEHOLDER)
        text = case.phrase.replace(PLACEHOLDER, surface, 1)
        out.append((text, surface, start, start + len(surface)))
    return out


def grade(case: RegressionCase, cdb: CdbModel, vocab: VocabModel,
          config: EngineConfig) -> List[dict]:
    results = []
    sc = SpellChecker(cdb.vocab, config)
    for text, surface, start, end in fill_variants(case, cdb, config):
        ents, _ = annotate_document(text, cdb, vocab, config, sc)
        verdict = "FAIL"
        for e in ents:
            if e.start < end and e.end > start:  # overlap
                if e.cui == case.target_cui:
                    if e.start == start and e.end == end:
                        verdict = "IDENTICAL"
                        break
                    verdict = "SMALLER_SPAN"
                elif verdict == "FAIL":
                    verdict = "FOUND_ANY"
        results.append({"case": case.name, "surface": surface,
                        "target_cui": case.target_cui, "verdict": verdict})
    return results


def run_suite(cases: List[RegressionCase], cdb: CdbModel, vocab: VocabModel,
              config: EngineConfig) -> Dict[str, object]:
    rows = [r for c in cases for r in grade(c, cdb, vocab, config)]
    n = len(rows)
    ident = sum(r["verdict"] == "IDENTICAL" for r in rows)
    ok = sum(r["verdict"] in ("IDENTICAL", "SMALLER_SPAN") for r in rows)
    return {"rows": rows, "n": n,
            "identical_pct": round(100 * ident / n, 2) if n else 0.0,
            "pass_pct": round(100 * ok / n, 2) if n else 0.0}


# ---------------------------------------------------------------------------
# Hierarchy-aware grading + YAML suite ingestion (reference
# medcat/utils/regression/results.py:10-326 Finding/FindingDeterminer/
# STRICTNESS_MATRIX, checking.py:22-131 case structure,
# configs/default_regression_tests.yml format).
# ---------------------------------------------------------------------------

from enum import Enum, auto
from typing import Optional, Set


class Finding(Enum):
    """Reference results.py:10-85 (the graded outcomes)."""
    IDENTICAL = auto()
    SMALLER_SPAN = auto()
    BIGGER_SPAN_LEFT = auto()
    BIGGER_SPAN_RIGHT = auto()
    BIGGER_SPAN_BOTH = auto()
    PARTIAL_OVERLAP = auto()
    FOUND_DIR_PARENT = auto()
    FOUND_DIR_GRANDPARENT = auto()
    FOUND_ANY_CHILD = auto()
    FOUND_CHILD_PARTIAL = auto()
    FOUND_OTHER = auto()
    FAIL = auto()

    def has_correct_cui(self) -> bool:
        return self in {Finding.IDENTICAL, Finding.SMALLER_SPAN,
                        Finding.BIGGER_SPAN_LEFT, Finding.BIGGER_SPAN_RIGHT,
                        Finding.BIGGER_SPAN_BOTH, Finding.PARTIAL_OVERLAP}


class Strictness(Enum):
    STRICTEST = auto()
    STRICT = auto()
    NORMAL = auto()
    LENIENT = auto()
    ANYTHING = auto()


# reference results.py:310-327
STRICTNESS_MATRIX: Dict[Strictness, Set[Finding]] = {
    Strictness.STRICTEST: {Finding.IDENTICAL},
    Strictness.STRICT: {Finding.IDENTICAL, Finding.FOUND_ANY_CHILD},
    Strictness.NORMAL: {
        Finding.IDENTICAL, Finding.FOUND_ANY_CHILD,
        Finding.FOUND_CHILD_PARTIAL, Finding.BIGGER_SPAN_RIGHT,
        Finding.BIGGER_SPAN_LEFT, Finding.BIGGER_SPAN_BOTH,
        Finding.SMALLER_SPAN, Finding.PARTIAL_OVERLAP},
    Strictness.LENIENT: {
        Finding.IDENTICAL, Finding.FOUND_ANY_CHILD,
        Finding.BIGGER_SPAN_RIGHT, Finding.BIGGER_SPAN_LEFT,
        Finding.BIGGER_SPAN_BOTH, Finding.SMALLER_SPAN,
        Finding.PARTIAL_OVERLAP, Finding.FOUND_DIR_PARENT,
        Finding.FOUND_DIR_GRANDPARENT},
    Strictness.ANYTHING: set(Finding),
}


def _raw_finding(start: int, end: int, exp_start: int,
                 exp_end: int) -> Optional[Finding]:
    """Span-only classification (reference results.py _determine_raw)."""
    if start < exp_start:
        if end < exp_start:
            return None
        if end < exp_end:
            return Finding.PARTIAL_OVERLAP
        if end == exp_end:
            return Finding.BIGGER_SPAN_LEFT
        return Finding.BIGGER_SPAN_BOTH
    if start == exp_start:
        if end < exp_end:
            return Finding.SMALLER_SPAN
        if end == exp_end:
            return Finding.IDENTICAL
        return Finding.BIGGER_SPAN_RIGHT
    if exp_start < start <= exp_end:
        if end <= exp_end:
            return Finding.SMALLER_SPAN
        return Finding.PARTIAL_OVERLAP
    return None


def determine_finding(exp_cui: str, exp_start: int, exp_end: int,
                      ents: List[dict], pt2ch: Dict[str, List[str]],
                      ch2pt: Optional[Dict[str, List[str]]] = None,
                      strict_only: bool = False, check_children: bool = True,
                      check_parent: bool = True, check_grandparent: bool = True,
                      _seen: Optional[set] = None
                      ) -> Tuple[Finding, Optional[str]]:
    """Reference FindingDeterminer.determine (results.py:117-280): strict
    check, then direct parents (IDENTICAL at parent → FOUND_DIR_PARENT,
    one more hop → FOUND_DIR_GRANDPARENT), then children transitively
    (→ FOUND_ANY_CHILD / FOUND_CHILD_PARTIAL), then exact-span wrong-CUI
    (FOUND_OTHER), else FAIL.  ``ents`` rows need start/end/cui;
    ``pt2ch`` is addl_info['pt2ch'] (see sources/ontologies.py),
    ``ch2pt`` its inverse (derived when omitted)."""
    if ch2pt is None:
        ch2pt = {}
        for p, chs in pt2ch.items():
            for c in chs:
                ch2pt.setdefault(c, []).append(p)
    if _seen is None:
        _seen = set()

    if not ents:
        return Finding.FAIL, None
    for e in ents:
        if e["cui"] == exp_cui:
            raw = _raw_finding(e["start"], e["end"], exp_start, exp_end)
            if raw is not None:
                return raw, None
    if strict_only:
        return Finding.FAIL, None

    if check_parent:
        for parent in sorted(ch2pt.get(exp_cui, [])):
            finding, wcui = determine_finding(
                parent, exp_start, exp_end, ents, pt2ch, ch2pt,
                check_children=False, check_parent=check_grandparent,
                check_grandparent=False, _seen=_seen)
            if finding is Finding.IDENTICAL:
                return Finding.FOUND_DIR_PARENT, parent
            if finding is Finding.FOUND_DIR_PARENT:
                return Finding.FOUND_DIR_GRANDPARENT, wcui

    if check_children:
        # mark BEFORE descending (reference results.py:287 adds exp_cui to
        # _checked_children first) so a cyclic pt2ch terminates instead of
        # recursing forever on malformed hierarchy data
        _seen.add(exp_cui)
        for child in sorted(pt2ch.get(exp_cui, [])):
            if child in _seen:
                continue
            _seen.add(child)
            finding, wcui = determine_finding(
                child, exp_start, exp_end, ents, pt2ch, ch2pt,
                check_children=True, check_parent=False,
                check_grandparent=False, _seen=_seen)
            if finding in (Finding.IDENTICAL, Finding.FOUND_ANY_CHILD):
                return Finding.FOUND_ANY_CHILD, \
                    child if finding is Finding.IDENTICAL else wcui
            if finding.has_correct_cui():
                return Finding.FOUND_CHILD_PARTIAL, child
            if finding is Finding.FOUND_CHILD_PARTIAL:
                return finding, wcui

    for e in ents:
        if e["start"] == exp_start and e["end"] == exp_end:
            return Finding.FOUND_OTHER, e["cui"]
    return Finding.FAIL, None


@dataclass
class YamlPlaceholder:
    placeholder: str
    cuis: List[str]
    prefname_only: bool = False


@dataclass
class YamlCase:
    name: str
    placeholders: List[YamlPlaceholder]
    any_combination: bool
    phrases: List[str]


def read_regression_yaml(path: str) -> List[YamlCase]:
    """Parse the reference's default suite YAML
    (configs/default_regression_tests.yml: per-case ``targeting:
    {placeholders: [{placeholder, cuis, prefname-only}], any-combination},
    phrases``)."""
    import yaml
    with open(path) as f:
        raw = yaml.safe_load(f)
    cases = []
    for name, body in raw.items():
        targeting = body["targeting"]
        phs = [YamlPlaceholder(p["placeholder"], [str(c) for c in p["cuis"]],
                               bool(p.get("prefname-only", False)))
               for p in targeting["placeholders"]]
        cases.append(YamlCase(
            name=name, placeholders=phs,
            any_combination=bool(targeting.get("any-combination", False)),
            phrases=list(body["phrases"])))
    return cases


def _names_for(cdb: CdbModel, cui: str, config: EngineConfig,
               prefname_only: bool) -> List[str]:
    if prefname_only and cui in cdb.cui2preferred_name:
        return [cdb.cui2preferred_name[cui]]
    return [n.replace(config.separator, " ")
            for n in sorted(cdb.cui2names.get(cui, ()))]


def yaml_subcases(case: YamlCase, cdb: CdbModel, config: EngineConfig):
    """(phrase, target placeholder, target cui, target name, final_text,
    exp_start, exp_end) — any-combination=False mode: same-index CUIs
    used together (checking.py get_distinct_cases); non-target
    placeholders filled with their concept's first name."""
    n_slots = len(case.placeholders[0].cuis)
    for idx in range(n_slots):
        for t_i, target in enumerate(case.placeholders):
            t_cui = target.cuis[idx]
            for t_name in _names_for(cdb, t_cui, config,
                                     target.prefname_only):
                for phrase in case.phrases:
                    text = phrase
                    # fill non-target placeholders first (first name)
                    for o_i, other in enumerate(case.placeholders):
                        if o_i == t_i:
                            continue
                        o_names = _names_for(cdb, other.cuis[idx], config,
                                             other.prefname_only)
                        filler = o_names[0] if o_names else other.cuis[idx]
                        text = text.replace(other.placeholder, filler)
                    if text.count(target.placeholder) != 1:
                        # reference requires exactly one target slot per
                        # subcase (checking.py partial_substitute handles
                        # multiples; single-slot phrases here)
                        continue
                    start = text.find(target.placeholder)
                    text = text.replace(target.placeholder, t_name, 1)
                    yield (phrase, target.placeholder, t_cui, t_name, text,
                           start, start + len(t_name))


def run_yaml_suite(path: str, cdb: CdbModel, vocab: VocabModel,
                   config: EngineConfig,
                   strictness: "Strictness" = None) -> Dict[str, object]:
    """Grade every subcase of a YAML suite with the hierarchy-aware
    determiner; pass = finding in STRICTNESS_MATRIX[strictness]
    (default NORMAL, the reference's default)."""
    strictness = strictness or Strictness.NORMAL
    allowed = STRICTNESS_MATRIX[strictness]
    pt2ch = cdb.addl_info.get("pt2ch", {})
    rows = []
    sc = SpellChecker(cdb.vocab, config)
    for case in read_regression_yaml(path):
        for (_phrase, ph, cui, name, text, start, end) in \
                yaml_subcases(case, cdb, config):
            ents, _ = annotate_document(text, cdb, vocab, config, sc)
            ent_rows = [{"start": e.start, "end": e.end, "cui": e.cui}
                        for e in ents]
            finding, alt = determine_finding(cui, start, end, ent_rows, pt2ch)
            rows.append({"case": case.name, "placeholder": ph, "cui": cui,
                         "name": name, "finding": finding.name,
                         "alt_cui": alt,
                         "pass": finding in allowed})
    n = len(rows)
    passed = sum(r["pass"] for r in rows)
    return {"rows": rows, "n": n,
            "pass_pct": round(100 * passed / n, 2) if n else 0.0,
            "strictness": strictness.name}
