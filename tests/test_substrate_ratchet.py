"""Ratchet: the text/LM substrate spellings live in one home each.

Tokenization (normalize → split) is spelled only in functions/text.py,
the adjacent-pair tail slice and the Spark-side mix31 holdout flag only
in operators/lm.py. A copy reappearing in entry_registry.py
or operators/ fails here; the DuckDB oracle functions (``_…_oracle``)
keep their own SQL and are exempt from the holdout check.
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

PKG = pathlib.Path(__file__).resolve().parents[1] / "proto_to_avro_ql_spark"
SCOPE = [PKG / "entry_registry.py", *sorted((PKG / "operators").glob("*.py"))]
LM_HOME = PKG / "operators" / "lm.py"

TOKENIZE = re.compile(
    r"F\.split\((?:TX\.)?normalize_text\("
    r"|F\.split\(\s*F\.trim\(\s*F\.regexp_replace\(\s*F\.lower\("
)
# The tail slice of an adjacent-pair zip, in SQL or Column-API spelling.
PAIR = re.compile(r"slice\(\s*\w+\s*,\s*2\s*,")
HOLDOUT = re.compile(r"%\s*5\s*=\s*0\s+THEN\s+1\s+ELSE\s+0")
ORACLE_FN = re.compile(r"^_\w*_oracle$")


def _owners(path: pathlib.Path) -> dict[int, str]:
    """line → name of the innermost enclosing function ('' at module level)."""
    tree = ast.parse(path.read_text())
    owner: dict[int, str] = {}
    spans = sorted(
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    for lo, hi, name in spans:  # inner functions start later, so they win
        for line in range(lo, hi + 1):
            owner[line] = name
    return owner


def _hits(pattern: re.Pattern, skip=lambda path, fn: False) -> list[str]:
    out = []
    for path in SCOPE:
        text = path.read_text()
        owner = _owners(path)
        for m in pattern.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            fn = owner.get(line, "")
            if not skip(path, fn):
                out.append(f"{path.relative_to(PKG)}:{line} ({fn or '<module>'})")
    return out


def test_tokenize_spelled_only_in_text_module():
    assert _hits(TOKENIZE) == [], "use functions.text.tokens / nonempty_tokens"


def test_pair_literal_spelled_only_in_lm():
    assert _hits(PAIR, lambda path, fn: path == LM_HOME) == [], "use operators.lm.ngram_array"


def test_holdout_flag_spelled_only_in_lm():
    def exempt(path, fn):
        return path == LM_HOME or bool(ORACLE_FN.match(fn))

    assert _hits(HOLDOUT, exempt) == [], "use operators.lm.holdout_flag"


def test_ratchet_sees_a_copy(tmp_path, monkeypatch):
    """The scan finds a planted copy (guards against a vacuous pass)."""
    planted = tmp_path / "planted.py"
    planted.write_text(
        'def q_x():\n'
        '    a = F.split(TX.normalize_text(F.col("text")), " ")\n'
        '    a = F.split(F.trim(F.regexp_replace(F.lower(t), "x", " ")), " ")\n'
        '    b = "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1))"\n'
        '    c = F.arrays_zip(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1))\n'
        '    return F.expr("CASE WHEN (h) % 5 = 0 THEN 1 ELSE 0 END")\n'
        'def _x_oracle():\n'
        '    return "CASE WHEN (h) % 5 = 0 THEN 1 ELSE 0 END"\n'
    )
    module = sys.modules[__name__]
    monkeypatch.setattr(module, "SCOPE", [planted])
    monkeypatch.setattr(module, "PKG", tmp_path)
    assert len(_hits(TOKENIZE)) == 2
    assert len(_hits(PAIR)) == 2
    assert _hits(HOLDOUT, lambda path, fn: bool(ORACLE_FN.match(fn))) == [
        "planted.py:6 (q_x)"
    ]
