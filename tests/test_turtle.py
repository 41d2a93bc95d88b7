"""Turtle parser conformance: full W3C turtle suites (main + eval + syntax),
positive/negative/eval-isomorphism."""

import os

import pytest

from rdf_go_spark.parsers.turtle import parse_turtle
from tests.w3c_harness import case_id, check_case, collect, is_legacy

CASES = (collect("turtle", ".ttl") + collect("turtle/eval", ".ttl")
         + collect("turtle/syntax", ".ttl"))


def _parse(src, base):
    return parse_turtle(src, base=base)


def _parse_cg(src, base):
    # legacy 2021 CG fixtures run under the compatibility mode (quoted
    # triples as direct terms) — the reference's semantics
    return parse_turtle(src, base=base, star_semantics="cg")


@pytest.mark.skipif(not CASES, reason="W3C fixtures unavailable")
@pytest.mark.parametrize("path", CASES, ids=case_id)
def test_w3c_turtle(path):
    parse = _parse_cg if is_legacy(os.path.basename(path)) else _parse
    failure = check_case(path, parse)
    assert failure is None, failure


class TestTurtleUnits:
    def test_prefix_and_a(self):
        stmts, errs = parse_turtle(
            "@prefix ex: <http://e/> . ex:s a ex:T .")
        assert not errs
        assert str(stmts[0].p) == "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

    def test_numeric_datatypes(self):
        stmts, errs = parse_turtle(
            "@prefix ex: <http://e/> . ex:s ex:p 30, 30.5, 3e1, true .")
        assert not errs
        objs = [str(q.o) for q in stmts]
        assert objs == [
            '"30"^^<http://www.w3.org/2001/XMLSchema#integer>',
            '"30.5"^^<http://www.w3.org/2001/XMLSchema#decimal>',
            '"3e1"^^<http://www.w3.org/2001/XMLSchema#double>',
            '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>',
        ]

    def test_collection(self):
        stmts, errs = parse_turtle(
            "@prefix ex: <http://e/> . ex:s ex:p (1 2) .")
        assert not errs
        preds = sorted(str(q.p) for q in stmts)
        assert any("first" in p for p in preds)
        assert any("rest" in p for p in preds)

    def test_undefined_prefix_errors(self):
        stmts, errs = parse_turtle("ex:s ex:p ex:o .")
        assert errs

    def test_annotation_reifier_semantics(self):
        stmts, errs = parse_turtle(
            "@prefix ex: <http://e/> . ex:s ex:p ex:o {| ex:r ex:z |} .")
        assert not errs
        assert len(stmts) == 3  # asserted + reifies + annotation
        reifies = [q for q in stmts if "reifies" in str(q.p)]
        assert len(reifies) == 1

    def test_star_semantics_modes_contrast(self):
        """The same document under the two star grammars: RDF 1.2 mints a
        reifier bnode + rdf:reifies; CG uses the quoted triple directly."""
        from rdf_go_spark.terms import TripleTerm
        src = "@prefix ex: <http://e/> . <<ex:s ex:p ex:o>> ex:q ex:z ."
        s12, e12 = parse_turtle(src)
        assert not e12 and len(s12) == 2
        assert any("reifies" in str(q.p) for q in s12)
        scg, ecg = parse_turtle(src, star_semantics="cg")
        assert not ecg and len(scg) == 1
        assert isinstance(scg[0].s, TripleTerm)
        # CG rejects the 1.2-only productions
        for bad in ("@prefix ex: <http://e/> . ex:s ex:p <<(ex:a ex:b ex:c)>> .",
                    "@prefix ex: <http://e/> . <<ex:s ex:p ex:o ~ ex:r>> ex:q ex:z .",
                    "@prefix ex: <http://e/> . ex:s ex:p ex:o ~ ex:r .",
                    "@prefix ex: <http://e/> . <<ex:s ex:p ex:o>> ."):
            _, errs = parse_turtle(bad, star_semantics="cg")
            assert errs, bad
        # and 1.2 accepts all four
        for good in ("@prefix ex: <http://e/> . ex:s ex:p <<(ex:a ex:b ex:c)>> .",
                     "@prefix ex: <http://e/> . <<ex:s ex:p ex:o ~ ex:r>> ex:q ex:z .",
                     "@prefix ex: <http://e/> . ex:s ex:p ex:o ~ ex:r .",
                     "@prefix ex: <http://e/> . <<ex:s ex:p ex:o>> ."):
            _, errs = parse_turtle(good)
            assert not errs, (good, errs)

    def test_bnode_factory_injection(self):
        """Pipeline skolemization hook: deterministic labels."""
        from rdf_go_spark.terms import BlankNode
        seq = [0]

        def factory():
            seq[0] += 1
            return BlankNode(f"skolem{seq[0]}")

        stmts, errs = parse_turtle(
            "@prefix ex: <http://e/> . [ ex:p ex:o ] ex:q ex:r .",
            bnode_factory=factory)
        assert not errs
        assert any("_:skolem1" in str(q.s) for q in stmts)
