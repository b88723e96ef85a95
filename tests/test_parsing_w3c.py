"""W3C conformance over the reference's own test expectations.

Mirrors the reference's vitest suites (SURVEY.md §5): positive fixtures
must parse with zero errors, negative fixtures must produce error records
(document quarantine, never a crash), and RDF 1.2 golden pairs must match
the golden ``.nt``/``.nq`` output under the blank-node-insensitive
canonical comparison ported from /root/reference/src/helpers.ts:47-163.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from conftest import extract_manifest, requires_reference
from mentor_rdf_parsers_spark.parsing.compare import precision_recall, quads_match
from mentor_rdf_parsers_spark.parsing.golden import parse_nt12
from mentor_rdf_parsers_spark.parsing.n3 import parse_n3
from mentor_rdf_parsers_spark.parsing.ntriples import parse_ntriples
from mentor_rdf_parsers_spark.parsing.turtle import parse_turtle

PARSERS = {
    "ntriples": lambda t, strict=True: parse_ntriples(t, nquads=False, strict=strict),
    "nquads": lambda t, strict=True: parse_ntriples(t, nquads=True, strict=strict),
    "turtle": lambda t, strict=True: parse_turtle(t, strict=strict),
    "trig": lambda t, strict=True: parse_turtle(t, strict=strict, trig=True),
    "n3": lambda t, strict=True: parse_n3(t, strict=strict),
}

MANIFESTS = {s: extract_manifest(s) for s in PARSERS}


def _params(kind: str):
    out = []
    for syntax in PARSERS:
        for item in MANIFESTS[syntax][kind]:
            ident = (
                f"{syntax}/{Path(item[0]).name}" if kind == "golden" else f"{syntax}/{Path(item).name}"
            )
            out.append(pytest.param(syntax, item, id=ident))
    return out


@requires_reference
def test_manifest_nonempty():
    total_pos = sum(len(m["positive"]) for m in MANIFESTS.values())
    total_neg = sum(len(m["negative"]) for m in MANIFESTS.values())
    total_gold = sum(len(m["golden"]) for m in MANIFESTS.values())
    assert total_pos > 400, total_pos
    assert total_neg > 250, total_neg
    assert total_gold >= 30, total_gold


@requires_reference
@pytest.mark.parametrize("syntax,path", _params("positive"))
def test_positive(syntax, path):
    text = Path(path).read_text(encoding="utf-8")
    quads, errors = PARSERS[syntax](text)
    assert errors == [], f"{path}: {errors[:3]}"


@requires_reference
@pytest.mark.parametrize("syntax,path", _params("negative"))
def test_negative(syntax, path):
    """Negative docs land in the error side-channel — no crash, no silent accept."""
    text = Path(path).read_text(encoding="utf-8")
    quads, errors = PARSERS[syntax](text)
    assert errors, f"{path}: wrongly accepted ({len(quads)} quads)"
    # fault tolerance: non-strict mode must also never raise
    PARSERS[syntax](text, strict=False)


@requires_reference
@pytest.mark.parametrize("syntax,pair", _params("golden"))
def test_golden_eval(syntax, pair):
    in_path, golden_path = pair
    text = Path(in_path).read_text(encoding="utf-8")
    quads, errors = PARSERS[syntax](text)
    assert errors == [], errors[:3]
    mine = [(s, p, o, g) for (s, p, o, g, *_rest) in quads]
    expected = parse_nt12(Path(golden_path).read_text(encoding="utf-8"))
    if not quads_match(mine, expected):
        p, r = precision_recall(mine, expected)
        pytest.fail(f"{in_path}: P={p:.3f} R={r:.3f}")


def test_corpus_precision_recall_gate():
    """Aggregate P/R ≥ 0.95 across every golden-oracle document.

    Uses the RDF 1.2 golden pairs plus the NT/NQ corpora (where the input
    is its own golden form, normalized the way the reference reader does:
    lowercase language tags, unicode-unescaped IRIs).
    """
    from mentor_rdf_parsers_spark.parsing.compare import canonicalize_quad_set
    from mentor_rdf_parsers_spark.parsing.terms import unescape_iri

    matched = total_mine = total_exp = 0

    def accumulate(mine, expected):
        nonlocal matched, total_mine, total_exp
        ca = set(map(repr, canonicalize_quad_set(mine)))
        ce = set(map(repr, canonicalize_quad_set(expected)))
        matched += len(ca & ce)
        total_mine += len(ca)
        total_exp += len(ce)

    def normalize_golden(quads):
        def fix_term(t):
            if t is None:
                return None
            if t[0] == "iri":
                return ("iri", unescape_iri(t[1]))
            if t[0] == "literal" and t[2]:
                return ("literal", t[1], t[2].lower(), t[3])
            if t[0] == "tripleterm":
                s, p, o = t[1]
                return ("tripleterm", (fix_term(s), fix_term(p), fix_term(o)))
            return t

        return [tuple(fix_term(t) for t in q) for q in quads]

    for syntax in PARSERS:
        for in_path, golden_path in MANIFESTS[syntax]["golden"]:
            quads, errors = PARSERS[syntax](Path(in_path).read_text(encoding="utf-8"))
            assert not errors
            mine = [(s, p, o, g) for (s, p, o, g, *_r) in quads]
            accumulate(mine, parse_nt12(Path(golden_path).read_text(encoding="utf-8")))

    for syntax in ("ntriples", "nquads"):
        for in_path in MANIFESTS[syntax]["positive"]:
            text = Path(in_path).read_text(encoding="utf-8")
            quads, errors = PARSERS[syntax](text)
            assert not errors, in_path
            mine = [(s, p, o, g) for (s, p, o, g, *_r) in quads]
            accumulate(mine, normalize_golden(parse_nt12(text)))

    precision = matched / total_mine if total_mine else 1.0
    recall = matched / total_exp if total_exp else 1.0
    assert precision >= 0.95, f"precision {precision:.4f} over {total_mine} quads"
    assert recall >= 0.95, f"recall {recall:.4f} over {total_exp} quads"
