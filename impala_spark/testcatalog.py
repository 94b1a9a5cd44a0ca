"""Canned test-warehouse schemas: the column layouts of the Impala
functional dataset the reference's analyzer tests run against
(T/common/FrontendTestBase.java loads them through
T/testutil/ImpaladTestCatalog.java; the layouts themselves are the
long-public Impala/Hive functional test schema — alltypes and friends).

Tests bind translate(strict=True, schema=..., catalog=...) to it so the
catalog-dependent half of the reference's AnalysisError pins
(column-typed operands) replays; the strict corpus
(tests/test_strict_corpus.py) freezes those verdicts.
"""

from __future__ import annotations

#: the alltypes family: identical columns across
#: alltypes/alltypestiny/alltypessmall/alltypesnopart/alltypeserror
#: (+ partition columns year/month; alltypesagg adds day)
ALLTYPES = {
    "id": "INT",
    "bool_col": "BOOLEAN",
    "tinyint_col": "TINYINT",
    "smallint_col": "SMALLINT",
    "int_col": "INT",
    "bigint_col": "BIGINT",
    "float_col": "FLOAT",
    "double_col": "DOUBLE",
    "date_string_col": "STRING",
    "string_col": "STRING",
    "timestamp_col": "TIMESTAMP",
    "year": "INT",
    "month": "INT",
}

#: alltypesagg adds a day partition column to the alltypes layout
ALLTYPESAGG = dict(ALLTYPES, day="INT")

#: alltypesnopart has the data columns only — no partition columns
ALLTYPESNOPART = {
    k: v for k, v in ALLTYPES.items() if k not in ("year", "month")
}

TESTTBL = {"id": "BIGINT", "name": "STRING", "zip": "INT"}

JOINTBL = {
    "test_id": "BIGINT",
    "test_name": "STRING",
    "test_zip": "INT",
    "alltypes_id": "INT",
}

DECIMAL_TBL = {
    "d1": "DECIMAL(9,0)",
    "d2": "DECIMAL(10,0)",
    "d3": "DECIMAL(20,10)",
    "d4": "DECIMAL(38,38)",
    "d5": "DECIMAL(10,5)",
    "d6": "DECIMAL(9,0)",
}

DECIMAL_TINY = {
    "c1": "DECIMAL(10,4)",
    "c2": "DECIMAL(15,5)",
    "c3": "DECIMAL(1,1)",
}

#: the nested-types test table (the long-public Impala functional
#: dataset's allcomplextypes layout; field types as pinned throughout
#: AnalyzeStmtsTest.java:200-320)
ALLCOMPLEXTYPES = {
    "id": "INT",
    "int_array_col": "ARRAY<INT>",
    "array_array_col": "ARRAY<ARRAY<INT>>",
    "map_array_col": "ARRAY<MAP<STRING,INT>>",
    "struct_array_col": "ARRAY<STRUCT<f1:BIGINT,f2:STRING>>",
    "int_map_col": "MAP<STRING,INT>",
    "array_map_col": "MAP<STRING,ARRAY<INT>>",
    "map_map_col": "MAP<STRING,MAP<STRING,INT>>",
    "struct_map_col": "MAP<STRING,STRUCT<f1:BIGINT,f2:STRING>>",
    "int_struct_col": "STRUCT<f1:INT,f2:INT>",
    "complex_struct_col": "STRUCT<f1:INT,f2:ARRAY<INT>,f3:MAP<STRING,INT>>",
    "nested_struct_col":
        "STRUCT<f1:INT,f2:STRUCT<f11:BIGINT,f12:STRUCT<f21:BIGINT>>>",
    "complex_nested_struct_col":
        "STRUCT<f1:INT,f2:ARRAY<STRUCT<f11:BIGINT,"
        "f12:MAP<STRING,STRUCT<f21:BIGINT>>>>>",
    "year": "INT",
    "month": "INT",
}

TABLE_SCHEMAS: dict[str, dict[str, str]] = {
    "alltypes": ALLTYPES,
    "alltypestiny": ALLTYPES,
    "alltypessmall": ALLTYPES,
    "alltypesagg": ALLTYPESAGG,
    "alltypesnopart": ALLTYPESNOPART,
    "alltypeserror": ALLTYPES,
    "alltypes_view": ALLTYPES,
    "testtbl": TESTTBL,
    "jointbl": JOINTBL,
    "decimal_tbl": DECIMAL_TBL,
    "decimal_tiny": DECIMAL_TINY,
    "allcomplextypes": ALLCOMPLEXTYPES,
    # fixture tables (AnalyzeStmtsTest.java:886 addTestTable; the
    # functional.complex_view warehouse view's output columns)
    "only_complex_types": {
        "a": "ARRAY<INT>",
        "b": "STRUCT<x:INT,y:INT>",
        "c": "MAP<STRING,INT>",
    },
    "complex_view": {"abc": "BIGINT", "xyz": "STRING"},
    # functional.chars_tiny (fixed/var-length char columns) and
    # functional.complextypes_fileformat (one column per complex kind),
    # pinned by the Kudu CTAS type-compat tests (AnalyzeDDLTest)
    "chars_tiny": {
        "cs": "CHAR(5)",
        "cl": "CHAR(140)",
        "vc": "VARCHAR(32)",
    },
    "complextypes_fileformat": {
        "id": "INT",
        "s": "STRUCT<f1:STRING,f2:INT>",
        "a": "ARRAY<INT>",
        "m": "MAP<STRING,BIGINT>",
    },
    # db-qualified fixture tables (addTestTable registrations in
    # AnalyzeStmtsTest.java:414-585,770-771): qualified keys resolve
    # only through the db.table path, never as bare names
    "d.t1": {"c": "ARRAY<INT>"},
    "d.t2": {"c": "ARRAY<STRUCT<f:INT>>"},
    "d.t3": {"c": "ARRAY<STRUCT<f:INT,item:INT,pos:INT>>"},
    "d.t4": {"c": "MAP<INT,STRING>"},
    "d.t5": {"c": "MAP<INT,STRUCT<f:INT>>"},
    "d.t6": {"c": "MAP<INT,STRUCT<f:INT,key:INT,value:INT>>"},
    "d.t7": {
        "c1": "INT",
        "c2": "DECIMAL(10,4)",
        "c3": "ARRAY<STRUCT<a1:ARRAY<INT>,"
              "a2:ARRAY<STRUCT<x:INT,y:INT,a3:ARRAY<INT>>>>>",
        "c4": "BIGINT",
        "c5": "MAP<INT,STRUCT<m1:MAP<INT,STRING>,"
              "m2:MAP<INT,STRUCT<x:INT,y:INT,m3:MAP<INT,INT>>>>>",
    },
    "d.t8": {
        "c1": "ARRAY<MAP<STRING,STRING>>",
        "c2": "MAP<STRING,ARRAY<STRUCT<a:INT>>>",
        "c3": "STRUCT<s1:STRUCT<a:ARRAY<ARRAY<STRUCT<e:INT,f:STRING>>>>>",
    },
    "a.t1": {"x": "ARRAY<STRUCT<y:ARRAY<INT>>>"},
    "a.t2": {"y": "ARRAY<INT>"},
    "a.array_test": {"a": "ARRAY<INT>"},
    "a.map_test": {"a": "MAP<INT,INT>"},
    "a.a": {"a": "STRUCT<a:STRUCT<a:INT>>"},
    # the functional.alltypes_view_sub warehouse view (x, y, z columns)
    "alltypes_view_sub": {"x": "INT", "y": "BIGINT", "z": "DOUBLE"},
}

#: Per-session-db fixture overrides (translate(session_db=...)): the
#: reference's test methods re-register a.a with DIFFERENT schemas —
#: STRUCT<a:STRUCT<a:INT>> in the slot/star ambiguity tests (the flat
#: default above) but ARRAY<STRUCT<a:ARRAY<INT>>> inside
#: TestTableRefPathAmbiguity (AnalyzeStmtsTest.java:753-754), whose
#: statements all run under createAnalyzer("a"). The declared session db
#: therefore selects which fixture state is live.
SESSION_DB_TABLE_OVERRIDES: dict[str, dict[str, dict[str, str]]] = {
    "a": {"a.a": {"a": "ARRAY<STRUCT<a:ARRAY<INT>>>"}},
}


def schema_for_statement(sql: str) -> dict[str, str]:
    """Union of the canned schemas for every table named in the
    statement text; columns whose type conflicts across mentioned
    tables are DROPPED (the resolver must never guess — an ambiguous
    column falls back to the untyped permissive path, exactly like a
    column the schema does not know)."""
    low = sql.lower()
    merged: dict[str, str] = {}
    conflicted: set[str] = set()
    for tbl, cols in TABLE_SCHEMAS.items():
        if tbl not in low:
            continue
        for col, ty in cols.items():
            if col in merged and merged[col] != ty:
                conflicted.add(col)
            else:
                merged[col] = ty
    for col in conflicted:
        merged.pop(col, None)
    return merged
