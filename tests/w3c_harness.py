"""Shared W3C fixture-suite harness (mirrors the reference's manifest-driven
strategy, rdf/compliance_test.go:112-157, but stricter: positive cases with
an expected .nt file are compared as graphs up to bnode relabeling, which the
reference does not do)."""

from __future__ import annotations

import glob
import os
from typing import Callable, List, Optional, Tuple

from rdf_go_spark.isomorphism import isomorphic
from rdf_go_spark.parsers.ntriples import parse_document

W3C = "/root/reference/w3c-tests"

# candidate base IRIs — the fixtures were authored under different test-suite
# roots; a positive eval match under any candidate passes
BASES = [
    "https://w3c.github.io/rdf-tests/rdf/rdf11/rdf-turtle/{}",
    "https://w3c.github.io/rdf-tests/rdf/rdf11/rdf-trig/{}",
    "http://www.w3.org/2013/TurtleTests/{}",
    "http://www.w3.org/2001/sw/DataAccess/df1/tests/{}",
]

# legacy RDF-star CG fixtures contradict the RDF 1.2 suite (quoted
# triples as direct terms vs reifier semantics); they run under the
# opt-in star_semantics="cg" compatibility mode with FULL eval compare
LEGACY_STAR_PREFIXES = ("turtle-star-eval", "trig-star-eval")
LEGACY_STAR_EXACT = {"turtle-star-syntax-bad-02.ttl", "trig-star-syntax-bad-02.trig"}


def is_legacy(name: str) -> bool:
    return name in LEGACY_STAR_EXACT or \
        any(name.startswith(p) for p in LEGACY_STAR_PREFIXES)


def read(path: str) -> str:
    # newline="" so literal \r survives (literal_with_CARRIAGE_RETURN)
    return open(path, encoding="utf-8", newline="").read()


def collect(dirpath: str, ext: str) -> List[str]:
    return sorted(glob.glob(os.path.join(W3C, dirpath, f"*{ext}")))


def case_id(path) -> str:
    """``ids=`` callable for fixture-path parametrizations: the path
    relative to the W3C root. With the fixtures absent the parameter
    list is empty and pytest calls ``ids`` once on its NOTSET sentinel;
    that gets a fixed id, so the module still collects, its unit tests
    run and only the fixture case skips."""
    if not isinstance(path, str):
        return "no-fixtures"
    return os.path.relpath(path, W3C)


def check_case(path: str,
               parse: Callable[[str, str], Tuple[list, list]],
               expected_ext: str = ".nt",
               expected_quads: bool = False) -> Optional[str]:
    """Run one fixture. Returns None on pass, else a failure description.

    ``parse(src, base) -> (statements, errors)``.
    """
    name = os.path.basename(path)
    src = read(path)
    bad = "bad" in name
    stmts, errs = parse(src, BASES[0].format(name))
    if bad:
        return None if errs else f"negative case parsed cleanly: {name}"
    if errs:
        return f"positive case failed: {name}: {errs[0]}"
    exp_path = os.path.splitext(path)[0] + expected_ext
    if not os.path.exists(exp_path):
        return None
    exp, eerrs = parse_document(read(exp_path), quads=expected_quads,
                                allow_star=True)
    if eerrs:
        return f"expected file unparseable: {exp_path}: {eerrs[0]}"
    exp_set = list(set(exp))
    for base in BASES:
        got, e2 = parse(src, base.format(name))
        if not e2 and isomorphic(list(set(got)), exp_set):
            return None
    return f"eval mismatch: {name}"
