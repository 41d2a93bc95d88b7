"""TriG parser conformance: full W3C trig suites (main + eval + syntax)."""

import os

import pytest

from rdf_go_spark.parsers.trig import parse_trig
from tests.w3c_harness import case_id, check_case, collect, is_legacy

CASES = (collect("trig", ".trig") + collect("trig/eval", ".trig")
         + collect("trig/syntax", ".trig"))


def _parse(src, base):
    return parse_trig(src, base=base)


def _parse_cg(src, base):
    # legacy 2021 CG fixtures run under the compatibility mode
    return parse_trig(src, base=base, star_semantics="cg")


@pytest.mark.skipif(not CASES, reason="W3C fixtures unavailable")
@pytest.mark.parametrize("path", CASES, ids=case_id)
def test_w3c_trig(path):
    parse = _parse_cg if is_legacy(os.path.basename(path)) else _parse
    failure = check_case(path, parse, expected_ext=".nq", expected_quads=True)
    assert failure is None, failure


class TestTrigUnits:
    def test_graph_block(self):
        stmts, errs = parse_trig(
            "@prefix ex: <http://e/> . ex:g { ex:s ex:p ex:o . }")
        assert not errs
        assert str(stmts[0].g) == "<http://e/g>"

    def test_graph_keyword(self):
        stmts, errs = parse_trig(
            "@prefix ex: <http://e/> . GRAPH ex:g { ex:s ex:p ex:o }")
        assert not errs and str(stmts[0].g) == "<http://e/g>"

    def test_default_graph_outside_block(self):
        stmts, errs = parse_trig(
            "@prefix ex: <http://e/> . ex:s ex:p ex:o . { ex:a ex:b ex:c . }")
        assert not errs
        assert stmts[0].g is None and stmts[1].g is None

    def test_nested_block_rejected(self):
        _, errs = parse_trig("{ { <http://e/s> <http://e/p> <http://e/o> . } }")
        assert errs

    def test_directive_inside_block_rejected(self):
        _, errs = parse_trig("{ @prefix ex: <http://e/> . }")
        assert errs

    def test_collection_lands_in_graph(self):
        stmts, errs = parse_trig(
            "@prefix ex: <http://e/> . ex:g { ex:s ex:p (1 2) . }")
        assert not errs
        assert all(str(q.g) == "<http://e/g>" for q in stmts)
