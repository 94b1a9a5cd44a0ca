"""Strict-verdict corpus: every statement-shaped string literal in
tests/*.py plus the registry SQL, with its strict-mode verdict under
three analysis contexts. Replaying it pins that analyzer refactors keep
every accept/reject decision and every error text.

Regenerate (only when a verdict change is intended) with
``python -m tests.test_strict_corpus``.
"""

from __future__ import annotations

import ast
import hashlib
import json
import pathlib
import re

from impala_spark.parser import translate
from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

_HERE = pathlib.Path(__file__).parent
CORPUS = _HERE / "strict_corpus.jsonl"

_STMT_HEAD = re.compile(
    r"\s*\(*\s*(SELECT|WITH|VALUES|INSERT|UPSERT|UPDATE|DELETE|CREATE|ALTER"
    r"|DROP|EXPLAIN|SHOW|DESCRIBE|COMPUTE|LOAD|TRUNCATE|USE|SET|INVALIDATE"
    r"|REFRESH|GRANT|REVOKE|COMMENT)\b",
    re.IGNORECASE,
)


def verdict(sql: str, **ctx) -> str:
    """'ok:<sha1 of the translation>' or 'err:<exact error text>'."""
    try:
        out = translate(sql, strict=True, **ctx)
    except Exception as e:  # noqa: BLE001 — a crash is a verdict too
        return f"err:{type(e).__name__}: {e}"
    return "ok:" + hashlib.sha1(out.encode()).hexdigest()


def verdicts(sql: str) -> dict[str, str]:
    typed = dict(schema=schema_for_statement(sql), catalog=TABLE_SCHEMAS)
    return {
        "plain": verdict(sql),
        "catalog": verdict(sql, **typed),
        "functional": verdict(sql, session_db="functional", **typed),
    }


def _statements() -> list[str]:
    from impala_spark.queries import SPARK_QUERIES

    found = {q.__doc__ for q in SPARK_QUERIES.values() if q.__doc__}
    for path in sorted(_HERE.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                found.add(node.value)
    return sorted(s for s in found if _STMT_HEAD.match(s))


def test_strict_verdicts_replay():
    changed = []
    for line in CORPUS.read_text().splitlines():
        rec = json.loads(line)
        got = verdicts(rec["sql"])
        for ctx, want in rec["verdicts"].items():
            if got[ctx] != want:
                changed.append((rec["sql"], ctx, want, got[ctx]))
    assert not changed, f"{len(changed)} verdicts changed; first: {changed[:3]}"



def test_corpus_covers_test_literals():
    """Every statement the corpus is built from has an entry, so the
    replay covers new test literals too."""
    have = {json.loads(line)["sql"] for line in CORPUS.read_text().splitlines()}
    missing = [sql for sql in _statements() if sql not in have]
    assert not missing, (
        f"{len(missing)} statements have no corpus entry (regenerate with "
        f"`python -m tests.test_strict_corpus`); first: {missing[:3]}"
    )

if __name__ == "__main__":
    before = {
        rec["sql"]: rec["verdicts"]
        for rec in map(json.loads, CORPUS.read_text().splitlines())
    }
    after = {sql: verdicts(sql) for sql in _statements()}
    with CORPUS.open("w") as f:
        for sql, v in after.items():
            f.write(json.dumps({"sql": sql, "verdicts": v}) + "\n")
    moved = [
        (sql, ctx, was, v[ctx])
        for sql, v in after.items() if sql in before
        for ctx, was in before[sql].items() if v.get(ctx) != was
    ]
    print(
        f"{len(after.keys() - before.keys())} added, "
        f"{len({sql for sql, *_ in moved})} changed "
        f"({len(moved)} verdicts), "
        f"{len(before.keys() - after.keys())} removed"
    )
    for sql, ctx, was, now in moved[:10]:
        print(f"  [{ctx}] {sql.strip()[:100]!r}\n    {was}\n -> {now}")
