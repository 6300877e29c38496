"""The orientation predicate, pinned against an independent exact reference.

`sphere.robust_ccw` decides every orientation sign in the kernel: point
in polygon, edge crossings, wedges and booleans.  Away from the
uncertainty band its float determinant decides; inside it the sign must be
the exact sign of the determinant of the float inputs, whatever BLAS or
summation order the host has.  Here that is checked on seeded
near-degenerate triples against a pure-Python `Fraction` determinant, and
the antisymmetry and cyclic symmetry of the predicate are checked on every
triple, including the exact zeros that reach the symbolic perturbation.

A scan keeps the predicate in one module.  Spark-free.
"""

from __future__ import annotations

import ast
import re
from fractions import Fraction
from pathlib import Path

import numpy as np

from s2spark.kernel import sphere

ROOT = Path(__file__).resolve().parents[1]


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _near_degenerate_triples(n: int = 400) -> np.ndarray:
    """(k, 3, 3) triples (a, b, c), seed 7: c within 1e-15 and within 1e-9
    of the great circle through a and b, c = a, c = -a, c on that circle
    up to rounding, and generic triples."""
    rng = np.random.default_rng(7)

    def pairs(k):
        a = _unit(rng.normal(size=(k, 3)))
        b = _unit(rng.normal(size=(k, 3)))
        return a, b, _unit(np.cross(a, b))

    def on_circle(a, n_ab):
        u = np.cross(n_ab, a)                     # a, u span the circle
        t = rng.uniform(0, 2 * np.pi, (len(a), 1))
        return np.cos(t) * a + np.sin(t) * u

    fams = []
    for off in (1e-15, 1e-9):
        a, b, nab = pairs(n)
        c = on_circle(a, nab) + off * rng.uniform(-1, 1, (n, 1)) * nab
        fams.append(np.stack([a, b, _unit(c)], axis=1))
    a, b, _ = pairs(n // 4)
    fams.append(np.stack([a, b, a], axis=1))
    a, b, _ = pairs(n // 4)
    fams.append(np.stack([a, b, -a], axis=1))
    a, b, nab = pairs(n)
    fams.append(np.stack([a, b, _unit(on_circle(a, nab))], axis=1))
    fams.append(_unit(rng.normal(size=(n, 3, 3))))
    return np.concatenate(fams)


def _fraction_sign(a, b, c) -> int:
    """Sign of a . (b x c) over the rationals the doubles denote."""
    ax, ay, az, bx, by, bz, cx, cy, cz = (Fraction(float(v))
                                          for v in (*a, *b, *c))
    det = (ax * (by * cz - bz * cy) - ay * (bx * cz - bz * cx)
           + az * (bx * cy - by * cx))
    return (det > 0) - (det < 0)


def _ccw(a, b, c) -> np.ndarray:
    return sphere.robust_ccw(*a.T, *b.T, *c.T)


def test_robust_ccw_equals_exact_sign_where_nonzero():
    t = _near_degenerate_triples()
    a, b, c = t[:, 0], t[:, 1], t[:, 2]
    got = _ccw(a, b, c)
    exact = np.array([_fraction_sign(*row) for row in t])
    nonzero = exact != 0
    # the family reaches the uncertainty band and the exact zeros
    det = np.einsum("ij,ij->i", np.cross(a, b), c)
    assert np.mean(np.abs(det) <= sphere.CCW_UNCERTAINTY) > 0.3
    assert (~nonzero).sum() >= len(t) // 10
    assert (got[nonzero] == exact[nonzero]).all(), np.flatnonzero(
        got[nonzero] != exact[nonzero])


def test_robust_ccw_antisymmetric_and_cyclic():
    t = _near_degenerate_triples()
    a, b, c = t[:, 0], t[:, 1], t[:, 2]
    abc = _ccw(a, b, c)
    assert (abc == -_ccw(b, a, c)).all()
    assert (abc == _ccw(b, c, a)).all()
    # c = a is degenerate (0); c = -a is an exact zero that the
    # perturbation turns into a sign
    assert (abc != 0).sum() >= len(t) - len(t) // 8


def _sum_and_difference_pairs(fn: ast.AST) -> set:
    """Operand pairs {x, y} that a function both adds (x + y) and
    subtracts (x - y or y - x): three of them, one per coordinate, are
    the (b+a) x (b-a) of a robust cross product."""
    sums, diffs = set(), set()
    for node in ast.walk(fn):
        if isinstance(node, ast.BinOp) and isinstance(node.op, (ast.Add, ast.Sub)):
            pair = frozenset((ast.unparse(node.left), ast.unparse(node.right)))
            (sums if isinstance(node.op, ast.Add) else diffs).add(pair)
    return sums & diffs


def test_one_orientation_predicate():
    """The uncertainty gate and the slow path are named in kernel/sphere.py
    only, and no other module writes a robust cross product: every caller
    goes through sphere.robust_ccw / ccw_signs and
    sphere.robust_cross_prod."""
    home = ROOT / "s2spark" / "kernel" / "sphere.py"
    gate = re.compile(r"\bCCW_UNCERTAINTY\b|\b_?expensive_ccw\w*")
    offenders = []
    for p in sorted((ROOT / "s2spark").rglob("*.py")):
        if p == home:
            continue
        text = p.read_text()
        if gate.search(text):
            offenders.append(f"{p.relative_to(ROOT)}: orientation triage")
        for fn in ast.walk(ast.parse(text)):
            if isinstance(fn, ast.FunctionDef) and (
                    re.fullmatch(r"_?robust_cross(_\w+)?", fn.name)
                    or len(_sum_and_difference_pairs(fn)) >= 3):
                offenders.append(f"{p.relative_to(ROOT)}: {fn.name}")
    assert offenders == []
    tree = ast.parse(home.read_text())
    crosses = [fn.name for fn in ast.walk(tree) if isinstance(fn, ast.FunctionDef)
               and len(_sum_and_difference_pairs(fn)) >= 3]
    assert crosses == ["robust_cross_prod"]
