"""ImpalaEngine — the session facade.

Plays the role of the reference's service layer
(service/Frontend.java:1037 createExecRequest, :596 getExplainString,
service/CatalogOpExecutor.java for DDL): accept an Impala-dialect SQL
string, translate it (parser.py), and hand it to Catalyst. Statements
Spark SQL cannot express directly (COMPUTE STATS, SHOW surfaces, Kudu-ish
UPDATE/DELETE) are routed to Python implementations here / in ddl.py.
"""

from __future__ import annotations

import re
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from functools import cached_property, wraps
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_spark import ddl
from impala_spark import functions as ifn
from impala_spark.parser import (
    ImpalaUnsupportedError,
    _Analysis,
    scanned_tables,
    tokenize,
    translate,
)
from impala_spark.session import (
    TABLES,
    FixtureCopyInfo,
    _state,
    bump_catalog_version,
    catalog_version,
    fixture_copy_info,
    fixture_files,
    gate_small_queries,
    plan_df,
    point_views,
    posture_df,
    posture_target,
    refresh_fixtures,
    same_state,
    session_state,
)


class ImpalaAnalysisError(ImpalaUnsupportedError):
    """Analysis failure surfaced with the reference's message text
    (Analyzer.java resolution errors). Subclasses ImpalaUnsupportedError so
    one except clause catches the whole compat surface."""


#: a table or database name: bare or db-qualified, any part backticked
_NAME = r"(?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*"
#: the query a statement reads
_QUERY = r"(?:SELECT|WITH|VALUES)\b.*"

#: The statement table: (kind, pattern, handler method), first match wins.
#: ``classify`` is the only place a statement's kind, target and source
#: are worked out; dispatch, authorization, auditing and EXPLAIN all read
#: its record. Named groups: ``target`` (table or database), ``alias`` +
#: ``from``/``set`` (join-form UPDATE/DELETE), ``source`` (the query read).
_STATEMENTS = tuple(
    (kind, re.compile(rf"\s*(?:{pattern})", re.IGNORECASE | re.DOTALL), handler)
    for kind, pattern, handler in (
        # a query, parenthesized ones included (first: it overlaps no other
        # row, and it is the hot path)
        ("query", r"(?:SELECT|WITH|VALUES)\b|(?![A-Za-z_])", "_run_query"),
        # no COMMENT statement in the 2.7 grammar (sql-parser.cup has no
        # comment_on rule): never fall through to Spark's COMMENT ON
        ("comment", r"COMMENT\b", "_reject_comment"),
        # CREATE/DROP ROLE, GRANT/REVOKE, SHOW ROLES/GRANT ROLE: no
        # privilege checks on catalog objects (GrantRevokePrivStmt.java:31-34)
        ("authz", r"(?:(?:CREATE|DROP)\s+ROLE|GRANT|REVOKE|SHOW\s+(?:CURRENT\s+"
                  r"ROLES|ROLES|ROLE\s+GRANT|GRANT\s+ROLE))\b", "_authz_stmt"),
        ("explain", r"EXPLAIN\s+(?!ANALYZE\b)(?P<source>.+)", "_explain_stmt"),
        ("compute_stats", rf"COMPUTE\s+(?:INCREMENTAL\s+)?STATS\s+(?P<target>{_NAME})\s*$",
         "_compute_stats_stmt"),
        # A/DropStatsStmt.java:28-30: PARTITION is only valid with INCREMENTAL;
        # both forms demote the same stats
        ("drop_stats", rf"DROP\s+(?:INCREMENTAL\s+)?STATS\s+(?P<target>{_NAME})"
                       r"(?:\s+PARTITION\s*\([^)]*\))?\s*$", "_drop_stats"),
        ("set", r"SET(?:\s+(?P<key>\w+)\s*=\s*(?P<value>.+?))?\s*$", "_set"),
        ("use", rf"USE\s+(?P<target>{_NAME})\s*$", "_use"),
        # SHOW [AGGREGATE|ANALYTIC] FUNCTIONS [IN db] [[LIKE] 'pattern']
        # (show_functions_stmt + opt_function_category)
        ("show_functions", r"SHOW\s+(?:(?P<cat>AGGREGATE|ANALYTIC)\s+)?FUNCTIONS"
                           rf"(?:\s+IN\s+(?P<target>{_NAME}))?"
                           r"(?:\s+(?:LIKE\s+)?'(?P<pat>[^']*)')?\s*$", "_show_functions_stmt"),
        # Impala SHOW forms Spark SQL lacks (service/MetadataOp.java)
        ("show", r"SHOW\s+(?P<what>FILES\s+IN|TABLE\s+STATS|COLUMN\s+STATS|RANGE\s+"
                 r"PARTITIONS|PARTITIONS|CREATE\s+TABLE|CREATE\s+FUNCTION|FUNCTIONS)"
                 rf"\s*(?P<target>{_NAME})?\s*$", "_show"),
        ("describe_db", rf"DESCRIBE\s+DATABASE\s+(?:EXTENDED\s+|FORMATTED\s+)?(?P<target>{_NAME})\s*$",
         "_describe_db"),
        ("describe", rf"DESCRIBE\s+(?P<fmt>FORMATTED\s+|EXTENDED\s+)?(?P<target>{_NAME})\s*$",
         "_run_query"),
        ("insert", rf"INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<target>{_NAME})\s*"
                   r"(?:\((?P<cols>[^)]*)\)\s*)?"  # column permutation (InsertStmt.java:73)
                   r"(?:PARTITION\s*\((?P<part>[^)]*)\)\s*)?"
                   # plan hints + comments before the source (InsertStmt planHints_)
                   r"(?P<hints>(?:(?:\[[^\]]*\]|/\*[^*]*\*+(?:[^/*][^*]*\*+)*/|--[^\n]*\n)\s*)*)"
                   rf"(?P<source>{_QUERY})?", "_insert"),
        ("upsert", rf"UPSERT\s+(?:INTO\s+)?(?:TABLE\s+)?(?P<target>{_NAME})\s*"
                   rf"(?:\([^)]*\)\s*)?(?P<source>{_QUERY})?", "_modify"),
        ("create_function", r"CREATE\s+(?P<agg>AGGREGATE\s+)?FUNCTION\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                            rf"(?P<target>{_NAME})\s*(?:\([^)]*\))?\s*"
                            r"(?:RETURNS\s+\w+)?\s*(?P<opts>.*)$", "_create_function"),
        ("drop_function", r"DROP\s+(?:AGGREGATE\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?"
                          rf"(?P<target>{_NAME})\s*(?:\([^)]*\))?\s*$", "_drop_function"),
        ("ctas", rf"CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<target>{_NAME})\s*"
                 r"(?:PARTITIONED\s+BY\s*\((?P<part>[^)]*)\)\s*)?"
                 r"(?:PARTITION\s+BY\s+HASH\s*\((?P<hash>[^)]*)\)\s*"
                 r"(?:PARTITIONS\s+(?P<nb1>\d+)|INTO\s+(?P<nb2>\d+)\s+BUCKETS)\s*)?"
                 r"(?:STORED\s+AS\s+(?P<fmt>\w+)\s*)?"
                 rf"AS\s+(?P<source>{_QUERY})$", "_ctas"),
        ("create_like", r"CREATE\s+(?P<external>EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
                        rf"(?P<target>{_NAME})\s+LIKE\s+(?P<like>{_NAME})(?P<tail>.*)$",
         "_create_like"),
        # column list balanced-paren-extracted by the handler: types nest
        # parens (sql-parser.cup:2373 create_tbl_stmt)
        ("create_table", r"CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
                         rf"(?P<target>{_NAME})\s*\(", "_create_table_with_cols"),
        # no column list: the Avro schema supplies it
        ("create_avro", r"CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
                        rf"(?P<target>{_NAME})\s+STORED\s+AS\s+AVRO\b.*?"
                        r"avro\.schema\.(?:literal'\s*=\s*'(?P<lit>(?:[^']|'')*)'"
                        r"|url'\s*=\s*'(?P<url>[^']*)')", "_create_avro"),
        ("create_view", rf"CREATE\s+VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<target>{_NAME})\s*"
                        rf"(?:\((?P<cols>[^)]*)\)\s*)?AS\s+(?P<source>{_QUERY})$", "_create_view"),
        ("alter_view", rf"ALTER\s+VIEW\s+(?P<target>{_NAME})(?:\s+AS\s+(?P<source>{_QUERY})"
                       rf"|\s+RENAME\s+TO\s+(?P<rename>{_NAME}))?", "_alter_view"),
        ("database", r"(?P<op>CREATE|DROP)\s+(?:DATABASE|SCHEMA)\s+"
                     rf"(?P<ine>IF\s+(?:NOT\s+)?EXISTS\s+)?(?P<target>{_NAME})(?P<tail>.*)$",
         "_database"),
        ("drop_table", rf"DROP\s+TABLE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<target>{_NAME})\s*(?:PURGE)?\s*$",
         "_drop_table"),
        # A/AlterTableSetColumnStats.java: manual metastore column stats
        ("set_column_stats", rf"ALTER\s+TABLE\s+(?P<target>{_NAME})\s+SET\s+COLUMN\s+STATS\s+"
                             rf"(?P<col>{_NAME})\s*\((?P<body>.*)\)\s*$", "_set_column_stats_stmt"),
        ("alter_table", rf"ALTER\s+TABLE\s+(?P<target>{_NAME})"
                        rf"(?:\s+RENAME\s+TO\s+(?P<rename>{_NAME}))?", "_alter_table"),
        ("update", rf"UPDATE\s+(?P<alias>{_NAME})\s+SET\s+(?P<set>.*)$", "_modify"),
        ("delete", rf"DELETE\s+(?:(?!FROM\b)(?P<alias>{_NAME})\s+FROM\s+|FROM\s+)?"
                   rf"(?P<from>(?P<target>{_NAME}).*)$", "_modify"),
        ("truncate", rf"TRUNCATE\b(?:\s+TABLE\b)?(?:\s+IF\s+EXISTS\b)?(?:\s+(?P<target>{_NAME}))?",
         "_truncate"),
        ("load", r"LOAD\s+DATA\b(?:\s+INPATH\s+'(?P<uri>[^']*)'\s+(?:OVERWRITE\s+)?INTO\s+TABLE\s+"
                 rf"(?P<target>{_NAME}))?", "_load"),
        # REFRESH t [PARTITION (spec)] (IMPALA-1683)
        ("refresh", rf"(?P<op>INVALIDATE\s+METADATA|REFRESH)\b(?:\s+(?P<target>{_NAME})\s*"
                    r"(?:PARTITION\s*\([^)]*\)\s*)?)?(?P<tail>.*)$", "_refresh"),
        ("drop_view", rf"DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<target>{_NAME})", "_drop_view"),
        # TABLE t: the SQL-standard table value, which Spark runs natively
        ("table", rf"TABLE\s+(?P<name>{_NAME})\s*$", "_run_query"),
        # table/view DDL of other shapes: Spark runs it natively
        ("ddl", r"(?P<op>CREATE|DROP|ALTER)\s+(?:EXTERNAL\s+)?(?P<obj>TABLE|VIEW)\b"
                rf"(?:\s+IF\s+(?:NOT\s+)?EXISTS)?(?:\s+(?P<target>{_NAME}))?", "_run_query"),
        # any other statement the grammar knows: Spark runs it natively
        ("command", r"(?:CREATE|DROP|ALTER|TRUNCATE|LOAD|SET|USE|SHOW|DESCRIBE|COMPUTE|"
                    r"INVALIDATE|REFRESH)\b", "_command"),
        ("other", r"", "_run_query"),
    )
)

#: kinds that write engine-managed (session) tables; a target qualified
#: with another database is a Spark catalog table, which Spark writes
_SESSION_TABLE_KINDS = ("insert", "ctas", "create_like", "drop_table")
#: kinds EXPLAIN accepts (sql-parser.cup explain_stmt: queries, DML, CTAS);
#: the rest must never execute as a side effect of EXPLAIN
_EXPLAINABLE_KINDS = (
    "query", "table", "other", "explain", "comment", "insert", "upsert",
    "update", "delete", "ctas",
)
#: heads of the `command` rows that read metadata, never table rows
_METADATA_COMMANDS = ("SHOW", "DESCRIBE", "SET", "USE")
#: whitespace and comments ahead of a statement's first keyword
_LEADING_COMMENTS_RE = re.compile(r"(?:\s+|/\*.*?\*/|--[^\n]*)*", re.DOTALL)
#: SHOW surfaces that target a table (Privilege.ANY, VIEW_METADATA event)
_SHOW_TABLE_SURFACES = (
    "FILES IN", "TABLE STATS", "COLUMN STATS", "PARTITIONS",
    "RANGE PARTITIONS", "CREATE TABLE",
)
#: table/view DDL kinds -> (audited privilege, object type; None = a view
#: when the engine registered one under the name, else a table)
_DDL_EVENTS = {
    "ctas": ("CREATE", "TABLE"),
    "create_like": ("CREATE", "TABLE"),
    "create_table": ("CREATE", "TABLE"),
    "create_avro": ("CREATE", "TABLE"),
    "create_view": ("CREATE", "VIEW"),
    "alter_view": ("ALTER", "VIEW"),
    "drop_table": ("DROP", None),
    "drop_view": ("DROP", "VIEW"),
    "alter_table": ("ALTER", None),
    "set_column_stats": ("ALTER", None),
}
_CREATE_TABLE_HEAD_RE = re.compile(r"\s*CREATE\s+TABLE\b", re.IGNORECASE)
_SHOW_TABLES_RE = re.compile(r"SHOW\s+TABLES\b", re.IGNORECASE)


@dataclass(frozen=True)
class Stmt:
    """A classified statement (ImpalaEngine.classify)."""

    kind: str
    #: the text the row matched (a PARTITION BY RANGE clause stripped)
    text: str
    match: re.Match
    #: target table or database: backticks stripped, a join-form
    #: UPDATE/DELETE alias resolved to its table
    target: str | None
    #: the query the statement reads (None when it reads none)
    source: str | None
    handler: str
    #: (columns, parsed spec) of a stripped PARTITION BY RANGE clause
    range_spec: tuple | None = None
    #: the query EXPLAIN plans, when not the source: an UPDATE's rows to
    #: modify (the plan of ``SELECT *`` over its FROM/WHERE part)
    plan_source: str | None = None

    @cached_property
    def analysis(self) -> _Analysis:
        """The analysis of its source, else its text, built once on
        first use: `tables` reads it, and translating that text
        (parser.translate's `analysis`) reuses it."""
        return _Analysis(tokenize(self.source or self.text))

    @cached_property
    def tables(self) -> frozenset[str]:
        """The tables the statement reads (parser._Analysis.scans):
        authorization, auditing, admission, the size gates and stats
        routing all read it."""
        return self.analysis.scans


#: plain-query plans an engine keeps (a dashboard's distinct statements
#: are tens; perfbench's `interactive` issues 19)
PLAN_CACHE_SIZE = 128

#: Broadcast-hint cost gate — the reference's broadcast-vs-partitioned
#: join decision (planner/DistributedPlanner.java:425-506) made with the
#: one statistic a path-based catalog has: input bytes. Registry SQL
#: marks FILTERED build sides it wants broadcast with /*+ BROADCAST(x) */
#: (Catalyst's non-CBO size estimates multiply through multi-table
#: subqueries and would never pick them); those sides grow linearly with
#: scale, so when the statement's input estimate (_gate_input_bytes) is
#: over this size the hints are STRIPPED and Catalyst falls back to
#: partitioned joins — the flip the reference's cost model makes when
#: build-side stats exceed the broadcast budget. Spark honors explicit
#: broadcast hints unconditionally (an un-gated hint OOMs a cluster at
#: sf1000). 16 GiB ~= sf160: the largest hinted side (q3's
#: BUILDING-customer x filtered-orders join, ~1% of orders) is ~2M rows /
#: ~100 MB hashed there — still a safe broadcast; beyond it, it is not.
#:
#: These hints are the STATS-LESS fallback only: after COMPUTE STATS,
#: plain (hint-free) texts plan in the stats session, where CBO + catalog
#: stats make this decision from row counts (interleaved A/B at sf10:
#: stats-planned plain q3 0.99 s vs hinted 1.06 s, q10 1.67 vs 2.44, q5
#: 3.17 vs 2.65). The registry keeps hinted texts because its oracle
#: checks (tools/check.py) run statements stats-less.
BROADCAST_HINT_MAX_INPUT_BYTES = 16 << 30

_BROADCAST_HINT_RE = re.compile(
    r"/\*\+\s*BROADCAST\s*\([^)]*\)(\s*,\s*BROADCAST\s*\([^)]*\))*\s*\*/"
)


class PlanCacheInfo(NamedTuple):
    """ImpalaEngine.plan_cache_info(), after functools' cache_info."""

    hits: int
    misses: int
    #: entries dropped because what they planned with changed: the
    #: catalog version moved, or the session or sizes they planned with
    invalidations: int
    maxsize: int
    currsize: int


class _Plan(NamedTuple):
    """A plain query's plan-cache entry."""

    checked: Stmt  # the statement as authorized
    stmt: Stmt  # the statement as run (`default.<view>` refs stripped)
    sizes: tuple  # its _gate_input_bytes
    #: the session it was analyzed in, and the one it plans in (routed
    #: or its posture clone), held weakly: a plan does not keep a
    #: replaced clone alive, and a dead reference is a miss
    routed: weakref.ref
    target: weakref.ref
    state: tuple | None  # routed's session_state, when target is routed
    plan: object  # the analyzed plan (JVM), output casts included


class _Lookup(NamedTuple):
    """A plain query's plan-cache key, the catalog version read with it,
    the statement as authorized and the entry found (None: a miss)."""

    key: tuple
    version: int
    checked: Stmt
    entry: _Plan | None


class _PlanCache:
    """LRU of plain-query plans for one catalog version: the first
    lookup under a newer version drops every entry. Thread-safe."""

    def __init__(self, maxsize: int):
        self._lock = threading.Lock()
        self._plans: OrderedDict[tuple, _Plan] = OrderedDict()
        self._version = catalog_version()
        self.maxsize = maxsize
        self.hits = self.misses = self.invalidations = 0

    def _advance(self, version: int) -> bool:
        """Move to `version` if newer; False when it is older (a lookup
        that started before a change another thread has seen)."""
        if version > self._version:
            self.invalidations += len(self._plans)
            self._plans.clear()
            self._version = version
        return version == self._version

    def get(self, key: tuple, version: int) -> _Plan | None:
        with self._lock:
            entry = self._plans.get(key) if self._advance(version) else None
            if entry is not None:
                self._plans.move_to_end(key)
            return entry

    def hit(self) -> None:
        with self._lock:
            self.hits += 1

    def miss(self, look: _Lookup, entry: _Plan | None) -> None:
        """Count a planned query, and keep its plan (`entry`, None for a
        plan not to reuse) unless the catalog changed while it planned."""
        with self._lock:
            self.misses += 1
            if look.entry is not None:
                self.invalidations += 1
                self._plans.pop(look.key, None)
            if entry is None or look.version != catalog_version() \
                    or not self._advance(look.version):
                return
            self._plans[look.key] = entry
            self._plans.move_to_end(look.key)
            if len(self._plans) > self.maxsize:
                self._plans.popitem(last=False)

    def info(self) -> PlanCacheInfo:
        with self._lock:
            return PlanCacheInfo(
                self.hits, self.misses, self.invalidations, self.maxsize, len(self._plans))


def _changes_catalog(method):
    """An API call that changes what statements plan to (like every
    statement but a plain query through sql()): the catalog version is
    bumped after it, even when it fails part-way."""

    @wraps(method)
    def call(self, *args, **kwargs):
        try:
            return method(self, *args, **kwargs)
        finally:
            bump_catalog_version()

    return call


def _show_surface(m: re.Match) -> str:
    """The SHOW row's surface, single-spaced ('TABLE STATS')."""
    return " ".join(m.group("what").upper().split())


def _unquote(name: str | None) -> str | None:
    return name.replace("`", "") if name else name


def _resolve_alias(alias: str, from_clause: str) -> str:
    """A join-form UPDATE/DELETE target: the table an alias names in the
    FROM clause (ModifyStmt.java:116-130), or the name itself."""
    try:
        return ddl._resolve_modify_target(alias, from_clause)
    except ValueError:
        return _unquote(alias)


_WITH_PREFIX_RE = re.compile(r"^\s*WITH\s", re.IGNORECASE)
_DML_HEAD_RE = re.compile(
    rf"(?is)^((?:INSERT|UPSERT)\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?{_NAME}\s*"
    r"(?:\([^)]*\)\s*)?"  # column permutation stays in the head
    r"(?:PARTITION\s*\([^)]*\)\s*)?)(.*)$"
)


_DEFAULT_REF_RE = re.compile(
    r"(?i)\bdefault\s*\.\s*(`[^`]+`|[A-Za-z_]\w*)"
)


def _strip_session_db_refs(q: str, spark) -> str:
    """Resolve `default.<name>` references against the engine's
    registered tables (Analyzer.java resolves db-qualified refs against
    the catalog; our fixture/managed tables are session temp views,
    which Spark cannot address through a database qualifier). Only
    rewrites when <name> actually exists as a temp view, so real
    catalog databases keep working; quote-aware, so string literals
    containing 'default.' are untouched."""
    if "default" not in q.lower():
        return q
    out: list[str] = []
    i, n = 0, len(q)
    in_str: str | None = None
    while i < n:
        ch = q[i]
        if in_str:
            out.append(ch)
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
            out.append(ch)
            i += 1
            continue
        m = _DEFAULT_REF_RE.match(q, i)
        if m and not (i and (q[i - 1].isalnum() or q[i - 1] in "_`.")):
            name = m.group(1).strip("`")
            try:
                is_temp = spark.catalog.tableExists(name)
            except Exception:
                is_temp = False
            if is_temp:
                out.append(m.group(1))
                i = m.end()
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _hoist_with_clause(q: str) -> str:
    """Impala's grammar allows a WITH clause to PREFIX INSERT/UPSERT
    (A/InsertStmt.java: withClause_ analyzed against the source query);
    Spark only accepts the CTE list ON the source query. Rewrite
    `WITH ... INSERT INTO t [PARTITION(...)] SELECT ...` into
    `INSERT INTO t [PARTITION(...)] WITH ... SELECT ...` — same scoping,
    since the CTEs are visible only to the select in both engines.
    Statements that aren't a WITH-prefixed DML pass through untouched."""
    if not _WITH_PREFIX_RE.match(q):
        return q
    depth = 0
    in_str: str | None = None
    for i, ch in enumerate(q):
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "IiUu" and i and not (
            q[i - 1].isalnum() or q[i - 1] in "_`"
        ):
            if re.match(r"(?i)(?:INSERT|UPSERT)\b", q[i:]):
                hm = _DML_HEAD_RE.match(q[i:])
                if hm:
                    return f"{hm.group(1).rstrip()} {q[:i].strip()} {hm.group(2)}"
                return q
    return q

#: Kudu-style hash partition clause (sql-parser.cup tbl_partition_clauses,
#: A/KuduPartitionParam.java): PARTITION BY HASH (cols) PARTITIONS n —
#: `INTO n BUCKETS` accepted as the bucket-count spelling.
_HASH_PART_RE = re.compile(
    r"\bPARTITION\s+BY\s+HASH\s*\(([^)]*)\)\s*"
    r"(?:PARTITIONS\s+(\d+)|INTO\s+(\d+)\s+BUCKETS)",
    re.IGNORECASE,
)
#: Kudu-style range partition clause (A/KuduPartitionParam.java, cup
#: tbl_partition_clauses): PARTITION BY RANGE (cols) ( PARTITION ... ) —
#: the body is balanced-paren extracted, not regexed.
_RANGE_PART_HDR_RE = re.compile(
    r"\bPARTITION\s+BY\s+RANGE\s*\(([^)]*)\)\s*\(", re.IGNORECASE
)


def _extract_range_partition_clause(q: str):
    """Strip a PARTITION BY RANGE clause from a CREATE TABLE statement.
    Returns (range_cols, parsed_spec, statement_without_clause) or None.
    Only text before a CTAS body is considered, so a window's
    PARTITION BY inside the SELECT can never match."""
    limit = len(q)
    mas = re.search(r"(?is)\bAS\s+(?:SELECT|WITH|VALUES)\b", q)
    if mas:
        limit = mas.start()
    m = _RANGE_PART_HDR_RE.search(q, 0, limit)
    if m is None:
        return None
    cols = [c.strip().strip("`") for c in m.group(1).split(",") if c.strip()]
    depth, j = 0, m.end() - 1
    while j < len(q):
        if q[j] == "(":
            depth += 1
        elif q[j] == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    if depth != 0:
        raise ValueError(f"unbalanced range partition clause in: {q!r}")
    spec = ddl.parse_range_partition_items(q[m.end():j])
    return cols, spec, q[:m.start()] + " " + q[j + 1:]


def _sql_literal(v) -> str:
    """Render a range-partition bound back to SQL literal text."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


_SYMBOL_RE = re.compile(r"SYMBOL\s*=\s*'([^']+)'|UPDATE_FN\s*=\s*'([^']+)'", re.IGNORECASE)

#: the reference's StatsKey spellings, in enum order
#: (catalog/ColumnStats.java:53-57)
_COL_STATS_KEYS = ("numDVs", "numNulls", "avgSize", "maxSize")

#: the reference's builtin category membership (catalog/BuiltinsDb —
#: AggregateFunction registrations and AnalyticExpr.java's fn whitelist).
_AGGREGATE_FNS = sorted({
    "appx_median", "avg", "count", "distinctpc", "distinctpcsa",
    "group_concat", "histogram", "max", "min", "ndv", "sample",
    "stddev", "stddev_pop", "stddev_samp", "sum",
    "var_pop", "var_samp", "variance", "variance_pop", "variance_samp",
})
_ANALYTIC_FNS = sorted({
    "cume_dist", "dense_rank", "first_value", "lag", "last_value",
    "lead", "ntile", "percent_rank", "rank", "row_number",
})

#: Impala query option -> Spark conf (subset that makes sense on Spark).
_QUERY_OPTIONS = {
    "num_nodes": None,  # no-op on Spark
    "mem_limit": None,
    "query_timeout_s": None,  # no-op on Spark (driver-side timeout)
    "disable_codegen": "spark.sql.codegen.wholeStage",  # inverted bool
    "broadcast_threshold": "spark.sql.autoBroadcastJoinThreshold",
}


def _range_partition_descriptions(t) -> list[str]:
    """Range-partition spelling shared by SHOW CREATE TABLE and SHOW
    RANGE PARTITIONS (ToSqlUtils / KuduTable range output): 'VALUE = v'
    and '[lo <=|<] VALUES [<|<= hi]' segments, scalar spelling for
    1-column keys."""
    single = len(t.range_cols) == 1

    def emit(tv) -> str:
        if single:
            return _sql_literal(tv[0])
        return "(" + ", ".join(_sql_literal(v) for v in tv) + ")"

    out: list[str] = []
    for item in t.range_spec:
        if item[0] == "value":
            out.append(f"VALUE = {emit(item[1])}")
        else:
            _, lo, loi, hi, hii = item
            seg = ""
            if lo is not None:
                seg += f"{emit(lo)} {'<=' if loi else '<'} "
            seg += "VALUES"
            if hi is not None:
                seg += f" {'<=' if hii else '<'} {emit(hi)}"
            out.append(seg)
    return out


def _print_bytes(n: int) -> str:
    """PB/TB/GB/MB/KB with 2 decimals, bare B below 1 KB
    (common/PrintUtils.java printBytes — 5000 -> '4.88KB')."""
    for unit, name in (
        (1 << 50, "PB"),
        (1 << 40, "TB"),
        (1 << 30, "GB"),
        (1 << 20, "MB"),
        (1 << 10, "KB"),
    ):
        if n >= unit:
            return f"{n / unit:.2f}{name}"
    return f"{n}B"


def _boolean_null_outputs(df: DataFrame) -> DataFrame:
    """Untyped NULL result columns present to clients as BOOLEAN for Hive
    compatibility (IMPALA-914, pinned by JdbcTest.testSelectNull — the
    FE's NULL_TYPE result slots surface as BOOLEAN). Spark types a bare
    ``SELECT NULL`` as void; cast those columns only. Positional, like
    _ntz_outputs, so duplicate output names stay intact."""
    fields = df.schema.fields
    if not any(f.dataType.typeName() == "void" for f in fields):
        return df
    tmp = [f"__bn{i}" for i in range(len(fields))]
    out = df.toDF(*tmp)
    exprs = [
        (
            F.col(t).cast("boolean").alias(t)
            if f.dataType.typeName() == "void"
            else F.col(t)
        )
        for t, f in zip(tmp, fields)
    ]
    return out.select(*exprs).toDF(*[f.name for f in fields])


def _ntz_outputs(df: DataFrame) -> DataFrame:
    """Cast LTZ timestamp result columns back to TIMESTAMP_NTZ. The stats
    session plans in LTZ (Spark 4.1.2's FilterEstimation can't estimate
    NTZ — session.register_stats_table), but the engine's Impala-parity
    surface is timezone-less timestamps; under the UTC session the cast
    is wall-clock exact.

    Truly positional (r10 ADVICE): name-based df[name] raises
    AMBIGUOUS_REFERENCE on duplicate output names (SELECT a.k, b.k), so
    rename to unique ordinals with toDF, cast, and rename back."""
    fields = df.schema.fields
    if not any(f.dataType.typeName() == "timestamp" for f in fields):
        return df
    names = [f.name for f in fields]
    tmp = [f"__ntz_c{i}" for i in range(len(fields))]
    tmp_df = df.toDF(*tmp)
    casts = [
        tmp_df[t].cast("timestamp_ntz").alias(t)
        if f.dataType.typeName() == "timestamp"
        else tmp_df[t]
        for t, f in zip(tmp, fields)
    ]
    return tmp_df.select(*casts).toDF(*names)


class ImpalaEngine:
    """SQL-string front door with Impala dialect + statement surface."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        strict: bool = False,
        server_name: str | None = None,
        user: str | None = None,
    ):
        self.spark = spark
        #: Sentry-style authorization (authz.py; SURVEY §2 row 15).
        #: server_name=None (the default, like the reference without
        #: --server_name) disables it entirely: auth statements raise the
        #: AuthorizationStmt gating text and no privilege checks run.
        from impala_spark.authz import AuthzPolicy

        self._authz = AuthzPolicy(server_name=server_name, user=user)
        #: strict=True: reject what Impala 2.7's analyzer rejects (exact
        #: messages); default is the permissive Spark superset.
        self.strict = strict
        #: APPX_COUNT_DISTINCT query option (SelectStmt.java:643-665)
        self.appx_count_distinct = False
        #: EXPLAIN_LEVEL query option (Planner.getExplainString levels)
        self.explain_level = 1
        #: name -> SYMBOL of functions created via CREATE FUNCTION
        self._functions: dict[str, str] = {}
        #: ALTER TABLE ... SET COLUMN STATS overrides, (table, column) ->
        #: {statsKey: value} — the engine analog of the manual metastore
        #: stats the reference writes (AlterTableSetColumnStats.java).
        #: SHOW COLUMN STATS reads these over the computed numbers.
        self._manual_col_stats: dict[tuple[str, str], dict] = {}
        #: names created via CREATE VIEW in this engine (AlterTableStmt
        #: .java:76-79 needs to tell views from tables)
        self._views: set[str] = set()
        #: view name -> defining SELECT text, for audit view expansion
        #: (analysis registers SELECT events on a view's underlying
        #: tables — T/analysis/AuditingTest.java TestSelect)
        self._view_texts: dict[str, str] = {}
        #: input directory for the size-gated plan rewrites (None = unknown
        #: scale, keep Catalyst's default plans)
        self._sf_dir = sf_dir or None
        #: request pools / admission control (pools.py; the reference's
        #: RequestPoolService.java surface). None until
        #: configure_request_pools() attaches the config files.
        self._pool_service = None
        self._admission = None
        #: REQUEST_POOL query option ("" = let placement rules decide)
        self._request_pool = ""
        #: option keys the user SET explicitly — pool default query
        #: options never override these (admission-control precedence)
        self._user_set_options: set[str] = set()
        #: fixture tables promoted to stats-backed catalog tables by
        #: COMPUTE STATS (see session.register_stats_table)
        self._stats_tables: set[str] = set()
        #: managed (engine-created) promoted tables -> ddl.mutation_count
        #: at ANALYZE time; a drifted count demotes the table from the
        #: CBO posture until COMPUTE STATS re-runs (stale-stats guard)
        self._stats_versions: dict[str, int] = {}
        #: analyzed plans of plain queries, for their repeats (sql())
        self._plans = _PlanCache(PLAN_CACHE_SIZE)
        if sf_dir:
            gate_small_queries(spark, sf_dir)
            self._point_views()
        # Impala's fnv_hash/murmur_hash have no Spark builtin equivalent —
        # register the exact-value pandas UDFs once per session (guarded:
        # engines are constructed per statement batch in some callers).
        st = _state(spark)
        if not st.hash_udfs:
            from impala_spark.functions import register_hash_udfs

            register_hash_udfs(spark)
            st.hash_udfs = True

    def _point_views(self) -> None:
        """Point the session's fixture views at this engine's dir before a
        statement (another engine or register_tables may have moved
        them; no py4j call while they point here). A fixture name a
        managed table owns keeps resolving to it: ddl's tables are the
        process's, as _gate_input_bytes sizes them."""
        if self._sf_dir is None or _state(self.spark).views_dir == self._sf_dir:
            return
        point_views(self.spark, self._sf_dir)
        for name in TABLES:
            t = ddl.table_info(name)
            if t is not None:
                ddl._read_table(self.spark, t).createOrReplaceTempView(name)

    # -- request pools / admission (util/RequestPoolService.java) ----------
    def configure_request_pools(
        self, allocation_file: str, llama_site_file: str | None = None
    ) -> None:
        """Attach fair-scheduler + llama-site configs: query statements are
        admitted against the resolved pool's limits from here on (the
        reference wires this through --fair_scheduler_allocation_path /
        --llama_site_path)."""
        from impala_spark.pools import AdmissionController, RequestPoolService

        self._pool_service = RequestPoolService(allocation_file, llama_site_file)
        self._admission = AdmissionController(self._pool_service)

    def _admit(self, nbytes: int | None):
        """Resolve the session's pool and take an admission slot for a
        query statement reading `nbytes` (_gate_input_bytes). Returns a
        token to release (None when admission is not configured).
        Planning happens under the slot."""
        if self._admission is None:
            return None
        import getpass

        from impala_spark.pools import PoolError

        user = self._authz.user or getpass.getuser()
        try:
            pool = self._pool_service.assign_to_pool(self._request_pool, user)
        except PoolError as e:
            raise ImpalaAnalysisError(str(e)) from e
        if pool is None:
            raise ImpalaAnalysisError(
                f"No mapping found for request from user '{user}' with "
                f"requested pool '{self._request_pool}'"
            )
        return self._admission.admit(pool, user, estimate_bytes=nbytes or 0)

    # -- equivalence classes / layout advice (util/DisjointSet.java) -------
    def equiv_classes(self, query: str) -> list[set]:
        """Column equivalence classes implied by the statement's equality
        conjuncts (the analyzer's equivClassMembers surface,
        A/Analyzer.java:277, built on util/DisjointSet.java). Catalyst
        performs the corresponding predicate propagation at plan time;
        this surface exists for workload/layout analysis."""
        from impala_spark.equivalence import column_equiv_classes

        return column_equiv_classes(query)

    def colocation_advice(self, workload: list) -> list:
        """Rank a workload's join-key equivalence classes by statement
        coverage — the candidates for a hash-bucketed colocated layout
        (CREATE TABLE ... PARTITION BY HASH, ddl.py). When the engine
        knows its data directory, classes also carry the bytes a join
        would shuffle per use, and heavier classes win coverage ties."""
        import os as _os

        from impala_spark.equivalence import colocation_advice
        from impala_spark.session import _dir_total_bytes

        sizes = None
        if self._sf_dir:
            sizes = {
                t: _dir_total_bytes(p)
                for t in TABLES
                if _os.path.exists(p := _os.path.join(self._sf_dir, f"{t}.parquet"))
            }
        return colocation_advice(workload, table_bytes=sizes)

    # -- the main path (Frontend.createExecRequest analog) -----------------
    def sql(self, query: str) -> DataFrame:
        """Run one statement: normalize, classify, authorize, then the
        statement row's handler (queries take an admission slot there).
        Authorization (and the authorization statements themselves) read
        the text as written; only the text handed on to Spark has its
        `default.<view>` refs stripped.

        A plain query planned before, with the same text, current
        database, `strict` and `appx_count_distinct`, and no change to
        the catalog since (session.catalog_version: every other
        statement bumps it), skips classify, translate and analysis: it
        is authorized and admitted again, and runs as a new DataFrame
        over its cached analyzed plan (_run_query)."""
        self._point_views()
        q = query.strip().rstrip(";")
        q = q[_LEADING_COMMENTS_RE.match(q).end():]
        key = (q, self.spark.catalog.currentDatabase(), self.strict, self.appx_count_distinct)
        version = catalog_version()
        entry = self._plans.get(key, version)
        if entry is not None:
            self._enforce_authz(entry.checked)
            return self._run_query(entry.stmt, _Lookup(key, version, entry.checked, entry))
        q = _hoist_with_clause(q)
        stmt = checked = self.classify(q)
        self._enforce_authz(stmt)
        spark_q = _strip_session_db_refs(q, self.spark)
        if spark_q != q and stmt.kind != "authz":
            stmt = self.classify(spark_q)
        if stmt.kind == "query":
            return self._run_query(stmt, _Lookup(key, version, checked, None))
        try:
            return getattr(self, stmt.handler)(stmt)
        finally:
            bump_catalog_version()

    def plan_cache_info(self) -> PlanCacheInfo:
        """Hits, misses and invalidations of the plain-query plan cache
        (sql()), with its size and bound — functools' cache_info shape."""
        return self._plans.info()

    def fixture_copy_info(self) -> FixtureCopyInfo:
        """The in-memory fixture copies the views read (one per fixture
        file of the SparkContext) and the bytes they hold."""
        return fixture_copy_info(self.spark)

    def classify(self, q: str) -> Stmt:
        """Match ``q`` against the statement table (first row wins) and
        work out, once, the target and the source query it reads. Leading
        comments are dropped, so a comment-led statement is classified
        (and authorized) by its first keyword."""
        q = q[_LEADING_COMMENTS_RE.match(q).end():]
        range_spec = plan_source = None
        if _CREATE_TABLE_HEAD_RE.match(q):
            # PARTITION BY RANGE -> physical layout (r12): strip the clause
            # so the CTAS / column-list rows apply
            ext = _extract_range_partition_clause(q)
            if ext is not None:
                range_spec, q = ext[:2], ext[2]
        for kind, pattern, handler in _STATEMENTS:
            m = pattern.match(q)
            if m:
                break
        g = m.groupdict()
        target, source = _unquote(g.get("target")), g.get("source")
        if kind == "query":
            source = q
        elif kind == "table":
            source = f"SELECT * FROM {g['name']}"
        elif kind == "update":
            # ModifyStmt.java: a top-level FROM ahead of any WHERE makes the
            # join form, whose FROM clause names the target by alias. The
            # source selects the SET clause itself (each `col = rhs` is a
            # boolean item), so a subquery or joined table it reads counts
            rest = g["set"]
            fi, wi = ddl._top_level_kw(rest, "FROM"), ddl._top_level_kw(rest, "WHERE")
            if fi >= 0 and (wi < 0 or fi < wi):
                sets, frm = rest[:fi].strip(), rest[fi + 4:].strip()
                target = _resolve_alias(g["alias"], frm)
            else:
                sets = (rest[:wi] if wi >= 0 else rest).strip()
                frm = g["alias"] + (f" {rest[wi:]}" if wi >= 0 else "")
                target = _unquote(g["alias"])
            source, plan_source = f"SELECT {sets} FROM {frm}", f"SELECT * FROM {frm}"
        elif kind == "delete":
            source = f"SELECT * FROM {g['from']}"
            if g["alias"]:
                target = _resolve_alias(g["alias"], g["from"])
        if kind in _SESSION_TABLE_KINDS and "." in target + (g.get("like") or ""):
            handler = "_run_query"
        return Stmt(kind, q, m, target, source, handler, range_spec, plan_source)

    def _run_query(self, stmt: Stmt, look: _Lookup | None = None) -> DataFrame:
        """Hand a statement to Spark through translate — the query path,
        and every statement the engine leaves to Spark — under an
        admission slot. The statement is sized once: admission, the
        size-gated rewrites and the posture all read its sizes.

        A plain query comes with its plan-cache lookup (`look`, from
        sql()). Its sizes are read again and its session derived again
        (routing, posture clone); a cached plan serves only if all match
        what it planned with — so a SET or spark.conf.set, a USE, a
        resized table or SPARK_GRAFT_DISABLE_SMALL_POSTURE re-plans.
        The DataFrame is new either way (plan_df): a re-collected one
        would reuse its shuffle and broadcast output."""
        nbytes, bound = self._gate_input_bytes(stmt.tables)
        token = self._admit(nbytes)
        try:
            if look is None:
                return self._run_query_stmt(stmt, nbytes, bound)
            routed = self._route_session(stmt)
            target = posture_target(routed, bound)
            state = session_state(routed) if target is routed else None
            e = look.entry
            if e is not None and e.sizes == (nbytes, bound) and e.routed() is routed \
                    and e.target() is target and (state is None or same_state(state, e.state)):
                self._plans.hit()
                return plan_df(target, e.plan)
            df = self._run_query_stmt(stmt, nbytes, bound)
            plan = df._jdf.queryExecution().analyzed()
            # rand()/uuid() draw their seed in analysis: such a plan
            # would repeat its "random" values, so it is not kept
            keep = df.sparkSession is target and plan.deterministic()
            self._plans.miss(look, _Plan(
                look.checked, stmt, (nbytes, bound), weakref.ref(routed),
                weakref.ref(target), state, plan,
            ) if keep else None)
            return df
        finally:
            if token is not None:
                token.release()

    def _run_query_stmt(
        self, stmt: Stmt, nbytes: int | None, bound: int | None
    ) -> DataFrame:
        df, sess = self._query_df(stmt, nbytes, bound)
        if sess is not self.spark:
            df = _ntz_outputs(df)
        return _boolean_null_outputs(df)

    def _query_df(
        self, stmt: Stmt, nbytes: int | None, bound: int | None
    ) -> tuple[DataFrame, SparkSession]:
        """The DataFrame statement `stmt` plans to, and the session it
        is routed to — shared by execution and EXPLAIN. `nbytes` and
        `bound` are its _gate_input_bytes: the broadcast-hint gate and
        the size-gated rewrites read the first; a plain query is
        analyzed in the routed session, then handed to
        session.posture_df with the second (EXPLAIN of a write's source
        passes None: it plans as the write runs)."""
        q = stmt.text
        if self.appx_count_distinct:
            from impala_spark.parser import rewrite_appx_count_distinct

            q = rewrite_appx_count_distinct(q)
        # strict-mode analysis always runs on the USER's text first
        sql_text = translate(q, strict=self.strict, analysis=stmt.analysis
                             if q == (stmt.source or stmt.text) else None)
        if nbytes is not None and nbytes > BROADCAST_HINT_MAX_INPUT_BYTES:
            # the broadcast-hint gate (see the constant); the rewrites
            # below start from the stripped text too
            q, sql_text = (_BROADCAST_HINT_RE.sub("", t) for t in (q, sql_text))
        rw = self._plan_rewrite(q, nbytes)
        sess = self._route_session(stmt)
        # two-pass global rank (r12) composes on top of the distinct
        # rewrite's output when both fire (the rewritten text re-emits
        # the user's ranking window over the joined group rows; it reads
        # the same tables)
        df = self._global_rank_df(rw if rw is not None else q, sess, nbytes)
        if df is None and rw is None:
            df = self._sql_with_impala_errors(sql_text, spark=sess)
        else:
            if df is None:
                df = self._sql_with_impala_errors(translate(rw), spark=sess)
            # Both rewrites rename UNALIASED outputs (__cd0/__a0, r10
            # ADVICE): restore the statement's own names positionally.
            # Analysis-only — the unrewritten frame is never executed,
            # and the rewrites keep select-item order and count.
            orig_cols = self._sql_with_impala_errors(sql_text, spark=sess).columns
            if df.columns != orig_cols:
                df = df.toDF(*orig_cols)
        if stmt.kind == "query":
            df = posture_df(df, bound)
        return df, sess

    # -- statement handlers (one per _STATEMENTS row) -------------------------
    def _command(self, stmt: Stmt) -> DataFrame:
        """A statement Spark runs natively; a SHOW TABLES listing keeps
        only the tables the user may see, as show_tables does."""
        df = self._run_query(stmt)
        return self._visible_tables(df) if _SHOW_TABLES_RE.match(stmt.text) else df

    def _reject_comment(self, stmt: Stmt) -> DataFrame:
        raise ImpalaUnsupportedError(
            "Syntax error: COMMENT is not a statement in Impala 2.7 "
            "(use ALTER TABLE ... SET TBLPROPERTIES ('comment'='...'))"
        )

    def _authz_stmt(self, stmt: Stmt) -> DataFrame:
        return self._authz.execute(self.spark, stmt.text, engine=self)

    def _explain_stmt(self, stmt: Stmt) -> DataFrame:
        text = self.explain(stmt.source)
        return self.spark.createDataFrame(
            [(line,) for line in text.split("\n")], "explain_string: string"
        )

    def _compute_stats_stmt(self, stmt: Stmt) -> DataFrame:
        return self.compute_stats(stmt.target)

    def _drop_stats(self, stmt: Stmt) -> DataFrame:
        # DROP STATS reverts the planner to the stats-less posture (the
        # reference drops the metastore stats and the planner falls back
        # to as-written plans) — here: the table leaves the stats-routing
        # set, so later statements plan in the default session again.
        # Catalog numbers themselves are harmless to keep (nothing reads
        # them once unrouted).
        tname = stmt.target
        if tname.split(".")[-1] in self._views:
            # A/DropStatsStmt.java:89-91 exact text
            raise ImpalaAnalysisError(
                f"DROP STATS not allowed on a view: {tname.split('.')[-1]}")
        if tname in self._stats_tables:
            self._stats_tables.discard(tname)
            self._stats_versions.pop(tname, None)
            return ddl._ack(self.spark, "stats dropped (table left the CBO posture)")
        return ddl._ack(self.spark, "stats dropped (no-op on Spark)")

    def _set(self, stmt: Stmt) -> DataFrame:
        key = stmt.match.group("key")
        if key is not None:
            return self.set_option(key, stmt.match.group("value"))
        # bare SET lists query options (Impala shell behavior)
        rows = [
            ("appx_count_distinct", str(self.appx_count_distinct).lower()),
            ("explain_level", str(self.explain_level)),
            ("request_pool", self._request_pool),
        ]
        for opt, conf in sorted(_QUERY_OPTIONS.items()):
            if conf:
                try:
                    val = str(self.spark.conf.get(conf))
                except Exception:
                    val = "(unset)"
            else:
                val = "(no-op on Spark)"
            rows.append((opt, val))
        return self.spark.createDataFrame(rows, "option: string, value: string")

    def _use(self, stmt: Stmt) -> DataFrame:
        try:
            self.spark.catalog.setCurrentDatabase(stmt.target)
        except Exception as e:
            # analysis/UseStmt / Analyzer.getDb error text
            raise ImpalaAnalysisError(
                f"Database does not exist: {stmt.target}") from e
        return self.spark.sql("SELECT current_database() AS db")

    def _show_functions_stmt(self, stmt: Stmt) -> DataFrame:
        return self.show_functions(
            category=(stmt.match.group("cat") or "").upper() or None,
            pattern=stmt.match.group("pat"),
            db=stmt.target or None,
        )

    def _show(self, stmt: Stmt) -> DataFrame:
        what = _show_surface(stmt.match)
        target = stmt.target or ""
        if what == "FUNCTIONS":
            return self.show_functions()
        if what == "CREATE FUNCTION":
            # show_create_function_stmt (sql-parser.cup:5760s analog)
            if target not in self._functions:
                raise ImpalaAnalysisError(f"default.{target}() unknown")
            text = (
                f"CREATE FUNCTION {target} LOCATION '<library>' "
                f"SYMBOL='{self._functions[target]}'"
            )
            return self.spark.createDataFrame([(text,)], "create_function: string")
        return {
            "FILES IN": self.show_files,
            "TABLE STATS": self.show_table_stats,
            "COLUMN STATS": self.show_column_stats,
            "RANGE PARTITIONS": self.show_range_partitions,
            "PARTITIONS": self.show_partitions,
            "CREATE TABLE": self.show_create_table,
        }[what](target)

    def _describe_db(self, stmt: Stmt) -> DataFrame:
        # describe_db_stmt: database metadata surface
        try:
            return self.spark.sql(f"DESCRIBE DATABASE {stmt.target}")
        except Exception as e:
            raise ImpalaAnalysisError(
                f"Database does not exist: {stmt.target}") from e

    def _insert(self, stmt: Stmt) -> DataFrame:
        m, tgt = stmt.match, stmt.target
        if stmt.source is None:
            return self._run_query(stmt)
        if ddl.table_info(tgt) is None:
            if tgt in self._views:
                # InsertStmt.java:386-390 exact text
                raise ImpalaAnalysisError(
                    f"Impala does not support INSERTing into views: default.{tgt}")
            # never let a write statement fall through to Spark against a
            # read-only fixture view — it would try to write the view's
            # backing files.
            raise ValueError(
                f"INSERT target '{m.group('target')}' is not a managed table; "
                "create it with CTAS/CREATE TABLE first"
            )
        static = None
        if m.group("part"):
            static = {}
            for kv in m.group("part").split(","):
                k, eq, v = kv.partition("=")
                if eq:  # static key; dynamic keys have no '='
                    static[k.strip().strip("`")] = v.strip().strip("'\"")
        hints = [h.lower() for h in re.findall(r"[A-Za-z_]+", m.group("hints"))]
        return ddl.insert(
            self.spark,
            tgt,
            stmt.source,
            overwrite=m.group("mode").upper() == "OVERWRITE",
            static_partition=static or None,
            columns=m.group("cols").split(",") if m.group("cols") is not None else None,
            hints=hints or None,
        )

    def _create_function(self, stmt: Stmt) -> DataFrame:
        # analysis/CreateUdfStmt.java:35-75 / CreateUdaStmt.java:30-60:
        # LOCATION points at a native binary — accepted and ignored here;
        # SYMBOL resolves into the Arrow-batched UDF library.
        name = stmt.target
        sym = _SYMBOL_RE.search(stmt.match.group("opts"))
        symbol = (sym.group(1) or sym.group(2)) if sym else name
        ifn.create_function(
            self.spark, name, symbol, aggregate=bool(stmt.match.group("agg"))
        )
        self._functions[name] = symbol
        return ddl._ack(self.spark, f"function {name} created")

    def _drop_function(self, stmt: Stmt) -> DataFrame:
        name = stmt.target
        existed = self._functions.pop(name, None)
        # Spark has no udf.unregister; the engine-side catalog entry is
        # what SHOW FUNCTIONS surfaces, so dropping it is the contract.
        status = "dropped" if existed else "did not exist"
        return ddl._ack(self.spark, f"function {name} {status}")

    def _exists(self, tname: str) -> bool:
        """Any resolvable object: managed table, engine view, fixture view."""
        return (
            ddl.table_info(tname) is not None
            or tname in self._views
            or self.spark.catalog.tableExists(tname)
        )

    def _ctas(self, stmt: Stmt) -> DataFrame:
        m, tname, rng = stmt.match, stmt.target, stmt.range_spec
        if m.group("ine") and self._exists(tname):
            # IF NOT EXISTS CTAS keeps the existing object and skips the
            # select (CreateTableAsSelectStmt — the statement is a no-op,
            # it must not replace the table's rows)
            return ddl._ack(self.spark, "table exists (kept)")
        fmt = (m.group("fmt") or "PARQUET").upper()
        if fmt != "PARQUET":
            # CTAS writes parquet; format_spec names what is unknown
            from impala_spark.sources import format_spec

            try:
                format_spec(fmt)
            except ValueError as e:
                raise ImpalaUnsupportedError(str(e)) from e
            raise ImpalaUnsupportedError(
                f"CREATE TABLE AS SELECT writes PARQUET; STORED AS {fmt} is not supported")
        # analysis/CreateTableStmt.java error text; non-strict mode
        # keeps create-or-replace so harness queries stay idempotent
        self._strict_create_guard(stmt, tname)
        if rng:
            if m.group("hash") or m.group("part"):
                raise ImpalaUnsupportedError(
                    "PARTITION BY RANGE cannot be combined with other"
                    " partition clauses"
                )
            return ddl.create_table_range_partitioned(
                self.spark, tname, rng[0], rng[1], query_or_df=stmt.source,
            )
        if m.group("hash"):
            # PARTITION BY HASH -> persisted bucketed layout (r11)
            hcols = [c.strip().strip("`") for c in m.group("hash").split(",") if c.strip()]
            n = int(m.group("nb1") or m.group("nb2"))
            return ddl.create_table_hash_bucketed(
                self.spark, tname, hcols, n, query_or_df=stmt.source,
            )
        pcols = [c.strip().strip("`") for c in (m.group("part") or "").split(",") if c.strip()]
        return ddl.create_table_as_select(
            self.spark, tname, stmt.source, partition_cols=pcols or None,
        )

    def _create_like(self, stmt: Stmt) -> DataFrame:
        m = stmt.match
        if m.group("external") or m.group("tail").strip():
            # EXTERNAL, LIKE PARQUET 'file' or clauses after the source:
            # Spark runs these
            return self._run_query(stmt)
        return ddl.create_table_like(self.spark, stmt.target, _unquote(m.group("like")))

    def _create_avro(self, stmt: Stmt) -> DataFrame:
        # column list omitted: the Avro schema literal supplies it
        # (AvroSchemaUtils.extractAvroTblProps + AvroSchemaParser — the
        # reference infers the columns when none are declared,
        # CreateTableStmt.analyzeAvroSchema)
        from impala_spark.sources import avro_schema_to_cols

        m = stmt.match
        tname = self._session_view_name(m.group("target"))
        if ddl.table_info(tname) is not None and m.group("ine"):
            return ddl._ack(self.spark, "table exists (kept)")
        if m.group("lit") is not None:
            lit = m.group("lit").replace("''", "'")
        else:
            # avro.schema.url: read the schema file (file/hdfs-less path
            # over the local fs, HdfsUri analysis already ran)
            from urllib.parse import urlparse

            p = urlparse(m.group("url")).path or m.group("url")
            try:
                with open(p) as fh:
                    lit = fh.read()
            except OSError as e:
                raise ImpalaAnalysisError(
                    f"Failed to read Avro schema at: {m.group('url')}. "
                    f"{e.strerror}") from e
        cols = avro_schema_to_cols(lit)
        if not cols:
            raise ImpalaAnalysisError(
                "An Avro table requires column definitions or an Avro schema")
        return ddl.create_table(self.spark, tname, cols)

    def _create_view(self, stmt: Stmt) -> DataFrame:
        # analysis/CreateViewStmt.java. Fixture tables are session temp
        # views, so the view is session-scoped too (a persistent Spark
        # view cannot reference temp objects); within the session it
        # resolves through the catalog exactly like the reference's
        # LocalView.
        m = stmt.match
        vname = self._session_view_name(m.group("target"))
        exists = any(v.name == vname for v in self.spark.catalog.listTables())
        if exists and m.group("ine"):
            return ddl._ack(self.spark, "view exists (kept)")
        if exists and self.strict:
            raise ImpalaAnalysisError(f"Table already exists: default.{vname}")
        cols = (m.group("cols") or "").strip()
        col_list = f" ({cols})" if cols else ""
        self._sql_with_impala_errors(
            f"CREATE OR REPLACE TEMPORARY VIEW {vname}{col_list} AS "
            + translate(stmt.source, strict=self.strict, analysis=stmt.analysis)
        )
        self._views.add(vname)
        self._view_texts[vname] = stmt.source
        return ddl._ack(self.spark, f"view {vname} created")

    def _alter_view(self, stmt: Stmt) -> DataFrame:
        if stmt.source is None:
            return self._run_query(stmt)
        # analysis/AlterViewStmt.java: redefine an existing view
        vname = self._session_view_name(stmt.match.group("target"))
        if not any(v.name == vname for v in self.spark.catalog.listTables()):
            raise ImpalaAnalysisError(f"Table does not exist: default.{vname}")
        if vname not in self._views:
            # AlterViewStmt.java:50-53 exact text — without this the
            # redefinition would silently REPLACE a table's session view
            # with the new select
            raise ImpalaAnalysisError(
                f"ALTER VIEW not allowed on a table: default.{vname}")
        self._sql_with_impala_errors(
            f"CREATE OR REPLACE TEMPORARY VIEW {vname} AS "
            + translate(stmt.source, strict=self.strict, analysis=stmt.analysis)
        )
        self._view_texts[vname] = stmt.source
        return ddl._ack(self.spark, f"view {vname} altered")

    def _database(self, stmt: Stmt) -> DataFrame:
        # db-DDL error parity (Analyzer.java:113-114, DropDbStmt.java
        # :73-76) — Spark's SCHEMA_* texts never surface
        m, db = stmt.match, stmt.target
        exists = any(d.name == db for d in self.spark.catalog.listDatabases())
        if m.group("op").upper() == "CREATE":
            if exists and not m.group("ine"):
                raise ImpalaAnalysisError(f"Database already exists: {db}")
        else:
            if not exists and not m.group("ine"):
                raise ImpalaAnalysisError(f"Database does not exist: {db}")
            if exists and db.lower() in (
                "default", self.spark.catalog.currentDatabase().lower()
            ):
                raise ImpalaAnalysisError(f"Cannot drop current default database: {db}")
            if exists and not re.search(r"(?i)\bCASCADE\b", m.group("tail")) and any(
                not t.isTemporary for t in self.spark.catalog.listTables(db)
            ):
                raise ImpalaAnalysisError(f"Cannot drop non-empty database: {db}")
        return self._sql_with_impala_errors(stmt.text)

    def _drop_table(self, stmt: Stmt) -> DataFrame:
        tname = stmt.target
        if tname in self._views:
            # analysis/DropTableOrViewStmt.java:94-96 exact text
            raise ImpalaAnalysisError(
                f"DROP TABLE not allowed on a view: default.{tname}")
        if ddl.table_info(tname) is not None:
            ddl.drop_table(self.spark, tname, purge=True)
            return ddl._ack(self.spark, "dropped")
        if self.spark.catalog.tableExists(tname):
            return self._run_query(stmt)
        if stmt.match.group("ine"):
            return ddl._ack(self.spark, "did not exist")
        # analysis/DropTableOrViewStmt.java error text
        raise ImpalaAnalysisError(f"Table does not exist: default.{tname}")

    def _reject_view_alter(self, stmt: Stmt) -> None:
        if stmt.target in self._views:
            # AlterTableStmt.java:76-79
            raise ImpalaAnalysisError(
                f"ALTER TABLE not allowed on a view: {stmt.target}")

    def _set_column_stats_stmt(self, stmt: Stmt) -> DataFrame:
        self._reject_view_alter(stmt)
        m = stmt.match
        return self._set_column_stats(stmt.target, _unquote(m.group("col")), m.group("body"))

    def _alter_table(self, stmt: Stmt) -> DataFrame:
        self._reject_view_alter(stmt)
        return ddl.alter_table(self.spark, stmt.text)

    def _modify(self, stmt: Stmt) -> DataFrame:
        bare = stmt.target.split(".")[-1]
        if bare in self._views:
            if stmt.kind == "upsert":
                # InsertStmt.java:386-390 (op name UPSERT)
                raise ImpalaAnalysisError(
                    f"Impala does not support UPSERTing into views: default.{bare}")
            # ModifyStmt analysis rejects view targets
            raise ImpalaAnalysisError(
                f"Impala does not support modifying a non-Kudu table: default.{bare}")
        return ddl.modify(self.spark, stmt.text, strict=self.strict)

    def _truncate(self, stmt: Stmt) -> DataFrame:
        return ddl.truncate(self.spark, stmt.text)

    def _load(self, stmt: Stmt) -> DataFrame:
        return ddl.load_data(self.spark, stmt.text)

    def _refresh(self, stmt: Stmt) -> DataFrame:
        # REFRESH t [PARTITION (spec)]: the partition spec narrows the
        # reload in the reference; Spark's refreshTable reloads the
        # table's file listing either way. A fixture view's in-memory
        # copy is dropped (Spark's refresh and clearCache do not reach
        # it), so the next scan re-reads the file.
        target = stmt.target
        if target and not stmt.match.group("tail").strip() and target.upper() != "METADATA":
            if not refresh_fixtures(self.spark, target):
                self.spark.catalog.refreshTable(target)
        else:
            refresh_fixtures(self.spark)
            self.spark.catalog.clearCache()
        return ddl._ack(self.spark, "metadata refreshed")

    def _drop_view(self, stmt: Stmt) -> DataFrame:
        vname = stmt.target
        if vname not in self._views and (
            ddl.table_info(vname) is not None
            or self.spark.catalog.tableExists(vname)
        ):
            # DropTableOrViewStmt.java:97-99 exact text
            raise ImpalaAnalysisError(
                f"DROP VIEW not allowed on a table: default.{vname}")
        # keep the view registry in sync for ALTER TABLE checks
        self._views.discard(vname)
        self._view_texts.pop(vname, None)
        return self._run_query(stmt)

    # -- authorization (AuthorizationChecker.java) ------------------------------
    def _enforce_authz(self, stmt: Stmt) -> None:
        """Privilege enforcement (authorization/AuthorizationChecker.java
        — the reference's Frontend registers PrivilegeRequests during
        analysis and fails before planning). No-op unless the engine was
        constructed with server_name. The requirement follows the
        statement kind; the tables a statement reads are the record's
        (Stmt.tables)."""
        if not self._authz.server_name:
            return
        from impala_spark.authz import AuthorizationError

        az, kind, target, m = self._authz, stmt.kind, stmt.target, stmt.match

        def deny(obj: str):
            return AuthorizationError(
                f"User '{az.user}' does not have privileges to access: {obj}")

        if kind == "explain":
            # the reference authorizes EXPLAIN exactly like the inner
            # statement (Frontend analyzes before planning)
            self._enforce_authz(self.classify(stmt.source.strip()))
        elif kind in ("query", "table"):
            az.check_access(self.spark, stmt.text, "SELECT", sorted(stmt.tables))
        elif kind in ("other", "command"):
            # shapes Spark runs natively: SELECT on every table the
            # resolver finds, and — unless the shape only reads metadata —
            # a server-scope grant, since the resolver cannot prove what
            # it reads (FROM t SELECT ..., CACHE TABLE, CREATE TEMPORARY
            # VIEW); ALL for the command heads, which may write
            az.check_access(self.spark, stmt.text, "SELECT", sorted(stmt.tables))
            head = stmt.text.split(None, 1)[0].upper() if stmt.text.strip() else ""
            priv = "SELECT" if kind == "other" else "ALL"
            if head not in _METADATA_COMMANDS and not az.holds_server(priv):
                raise AuthorizationError(
                    f"User '{az.user}' does not have privileges to execute"
                    f" '{priv}' on: server")
        elif kind in ("insert", "upsert"):
            az.check_access(self.spark, stmt.text, "INSERT", sorted(stmt.tables), target)
        elif kind in ("update", "delete"):
            # ALL on the target, SELECT on every other table the source
            # reads (A/ModifyStmt.java:41-59 analyzes a source SELECT)
            az.check_access(
                self.spark, stmt.text, kind.upper(), sorted(stmt.tables), target)
        elif kind == "truncate" and target:
            az.check_access(self.spark, stmt.text, "TRUNCATE", [], target)
        elif kind == "compute_stats":
            # COMPUTE [INCREMENTAL] STATS needs ALL on the table (the 2.x
            # Sentry model has no ALTER privilege level)
            az.check_access(self.spark, stmt.text, "COMPUTE STATS", [], target)
        elif kind == "load" and target:
            # LOAD DATA INPATH 'uri' INTO TABLE t: ALL on the URI
            # (AuthorizeableUri) + INSERT on the target
            az.check_uri_access(m.group("uri"))
            az.check_access(self.spark, stmt.text, "INSERT", [], target)
        elif kind == "use":
            # TestUseDb: USE requires ANY privilege on the database
            if not az.visible_db(self.spark, target):
                raise deny(f"{target}.*")
        elif kind == "refresh":
            # TestResetMetadata: table-targeted reset needs table-level ANY
            # (column-only grants insufficient); bare INVALIDATE METADATA
            # is a server-scope action
            if target and target.upper() != "FUNCTIONS":
                az.check_any_access(self.spark, target)
            elif not target and m.group("op").upper().startswith("INVALIDATE") \
                    and not az.holds_server():
                raise deny("server")
        elif kind in ("create_function", "drop_function"):
            # function management is server-admin only (TestFunction)
            az.check_create_drop_functions()
        elif kind == "show_functions" or (kind == "show" and _show_surface(m) == "FUNCTIONS"):
            # SHOW FUNCTIONS needs ANY privilege on the db (TestFunction:
            # "show functions" errors, "show functions in tpch" passes)
            db = (kind == "show_functions" and target) or self.spark.catalog.currentDatabase()
            if not az.visible_db(self.spark, db):
                raise deny(db)
        elif kind == "show" and target and _show_surface(m) in _SHOW_TABLE_SURFACES:
            # table-targeted metadata needs ANY privilege on the object
            # (AuthorizationChecker Privilege.ANY)
            az.check_any_access(self.spark, target)
            bare = target.split(".")[-1]
            if _show_surface(m) == "CREATE TABLE" and bare in self._views:
                # the definition exposes the underlying tables — the user
                # needs privileges on each (TestShowCreateTable: "...to see
                # the definition of view")
                view_refs = scanned_tables(self._view_texts.get(bare, ""))
                for ref in sorted(view_refs):
                    if not az.visible_table(self.spark, ref, include_column_privs=False):
                        raise AuthorizationError(
                            f"User '{az.user}' does not have privileges to see"
                            f" the definition of view 'default.{bare}'.")
        elif kind == "describe":
            # plain DESCRIBE accepts column-level grants; FORMATTED needs
            # table scope or higher (TestDescribe)
            az.check_any_access(self.spark, target, allow_column_privs=m.group("fmt") is None)
        elif kind in _DDL_EVENTS or kind == "ddl":
            op = _DDL_EVENTS[kind][0] if kind in _DDL_EVENTS else m.group("op").upper()
            az.check_access(self.spark, stmt.text, "DROP" if op == "DROP" else "CREATE", [])

    # -- auditing (Analyzer.getAccessEvents analog) ---------------------------
    def _qual(self, name: str) -> str:
        name = name.strip("`")
        if "." in name:
            return name.lower()
        return f"{self.spark.catalog.currentDatabase()}.{name}".lower()

    def _obj_type(self, name: str) -> str:
        return "VIEW" if name.strip("`").split(".")[-1] in self._views \
            else "TABLE"

    def _select_events(self, tables: frozenset[str]) -> set[tuple[str, str, str]]:
        """SELECT events for the tables a statement reads, with view
        expansion: a view reference records the view AND its underlying
        objects, transitively (AuditingTest.TestSelect — view_view yields
        3 events)."""
        events: set[tuple[str, str, str]] = set()
        pending = list(tables)
        seen_views: set[str] = set()
        while pending:
            ref = pending.pop()
            bare = ref.split(".")[-1]
            if bare in self._views:
                events.add((self._qual(ref), "VIEW", "SELECT"))
                if bare not in seen_views:
                    seen_views.add(bare)
                    pending.extend(scanned_tables(self._view_texts.get(bare, "")))
            else:
                events.add((self._qual(ref), "TABLE", "SELECT"))
        return events

    def access_events(self, q: str) -> set[tuple[str, str, str]]:
        """The access events analysis would register for ``q`` — the
        reference's Analyzer.getAccessEvents() (A/Analyzer.java
        addAccessEvent callers; verdicts pinned by
        T/analysis/AuditingTest.java). Returns a de-duplicated set of
        (fully-qualified name, object type, privilege) triples:

        * SELECT records each base table; a view records the view AND
          its underlying objects transitively; CTE names never appear
          but tables inside CTE bodies do even if the body is unused.
        * EXPLAIN audits like the statement it explains; INVALIDATE
          METADATA / REFRESH record nothing; USE records (db, ANY).
        * INSERT/UPSERT: INSERT on the target + SELECT on sources;
          UPDATE/DELETE: SELECT + INSERT on the target plus SELECT on
          FROM-clause sources; LOAD DATA / TRUNCATE: INSERT.
        * DDL: CREATE/DROP on the object; LIKE sources VIEW_METADATA;
          RENAME adds CREATE on the new name; COMPUTE/DROP STATS is
          ALTER; DESCRIBE is ANY, DESCRIBE FORMATTED/EXTENDED and the
          SHOW metadata surfaces are VIEW_METADATA.

        Not reproduced: the reference's `_impala_builtins` DATABASE
        VIEW_METADATA artifact (a side effect of its builtin-function
        resolution inside rewritten subqueries — our function registry
        is not a catalog database).
        """
        stmt = self.classify(q.strip().rstrip(";"))
        if stmt.kind == "explain":
            return self.access_events(stmt.source)
        kind, t, g = stmt.kind, stmt.target, stmt.match.groupdict()
        events = self._select_events(stmt.tables)
        if not t:
            return events
        if kind == "use":
            return {(t.lower(), "DATABASE", "ANY")}
        if kind == "database":
            return {(t.lower(), "DATABASE", g["op"].upper())}
        if kind == "describe_db":
            return {(t.lower(), "DATABASE", "VIEW_METADATA")}
        if kind in ("update", "delete"):
            return events | {(self._qual(t), "TABLE", "SELECT"), (self._qual(t), "TABLE", "INSERT")}
        if kind in ("insert", "upsert", "truncate", "load"):
            return events | {(self._qual(t), "TABLE", "INSERT")}
        if kind in ("compute_stats", "drop_stats"):
            return {(self._qual(t), "TABLE", "ALTER")}
        if kind == "describe":
            # a nested-collection path audits the enclosing table
            name = ".".join(t.split(".")[:2])
            priv = "VIEW_METADATA" if g["fmt"] else "ANY"
            return {(self._qual(name), self._obj_type(name), priv)}
        if kind == "show" and _show_surface(stmt.match) in _SHOW_TABLE_SURFACES:
            return {(self._qual(t), self._obj_type(t), "VIEW_METADATA")}
        if kind in _DDL_EVENTS or kind == "ddl":
            if kind == "ddl":
                priv = g["op"].upper()
                objtype = "VIEW" if g["obj"].upper() == "VIEW" else (
                    "TABLE" if priv == "CREATE" else None)
            else:
                priv, objtype = _DDL_EVENTS[kind]
            objtype = objtype or self._obj_type(t)
            events.add((self._qual(t), objtype, priv))
            if g.get("rename"):
                events.add((self._qual(g["rename"]), objtype, "CREATE"))
            if g.get("like") and g["like"].upper() != "PARQUET":
                events.add((self._qual(g["like"]), "TABLE", "VIEW_METADATA"))
            return events
        return set()

    def _route_session(self, stmt: Stmt):
        """Pick the session a classified statement plans in; only plain
        queries (kind "query") ever leave the default.
        After COMPUTE STATS promoted every base table a SELECT reads, the
        statement plans in the stats session — CBO + catalog stats
        reproduce the broadcast shapes the registry otherwise needs hand
        hints for (the reference's stats-costed
        DistributedPlanner.java:420-536 decision). A statement reading a
        view, a stale or shadowed engine table, a qualified name or no
        table at all keeps the default session and Catalyst's stats-less
        planning."""
        if stmt.kind != "query" or not self._stats_tables or self._sf_dir is None \
                or not stmt.tables:
            return self.spark
        for r in stmt.tables:
            if r not in self._stats_tables or r in self._views:
                return self.spark
            if r in self._stats_versions:
                # promoted as a MANAGED table: any write since ANALYZE
                # (or a DROP/RENAME) demotes it until stats recompute —
                # the catalog entry would read stale files otherwise
                info = ddl.table_info(r)
                if info is None or ddl.mutation_count(r) != self._stats_versions[r]:
                    self._stats_tables.discard(r)
                    self._stats_versions.pop(r, None)
                    return self.spark
            elif ddl.table_info(r) is not None:
                # fixture-promoted name now shadowed by an engine table:
                # the stats db entry points at the fixture, the session
                # name resolves to the engine table — never route
                return self.spark
        from impala_spark.session import stats_session

        sess = stats_session(self.spark, self._sf_dir)
        self._sync_functions(sess)
        return sess

    def _sync_functions(self, sess: SparkSession) -> None:
        """spark.newSession() clones own an ISOLATED FunctionRegistry, so
        a CREATE FUNCTION UDF registered on the default session would be
        unknown in the routed stats session (r10 ADVICE, high): register
        every engine function there before the statement plans. DROP
        FUNCTION parity matches the default session (Spark has no
        udf.unregister; the engine-side catalog is the contract)."""
        synced = _state(sess).functions
        for name, symbol in self._functions.items():
            if (name, symbol) in synced:
                continue
            entry = ifn.UDF_LIBRARY.get(symbol.strip().strip("'\""))
            ifn.create_function(
                sess, name, symbol, aggregate=bool(entry and entry[0])
            )
            synced.add((name, symbol))

    def _plan_rewrite(self, q: str, nbytes: int | None) -> str | None:
        """Input-size-gated plan rewrites on plain user SQL — the engine
        analog of the reference's stats-driven aggregate planning
        (A/AggregateInfo.java:42-60 two-phase DISTINCT). Only fires above
        the rewrite's input-size knee, like the broadcast-hint gate
        (BROADCAST_HINT_MAX_INPUT_BYTES) in _query_df."""
        from impala_spark.rewrites import (
            TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES,
            two_level_distinct,
        )

        if nbytes is None or nbytes < TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES:
            return None
        # session UDAs (CREATE AGGREGATE FUNCTION) must be recognized as
        # aggregates — an unknown aggregate name would read as a scalar fn
        return two_level_distinct(q, extra_aggs=frozenset(self._functions))

    def _global_rank_df(self, q: str, sess, nbytes: int | None) -> DataFrame | None:
        """Two-pass global rank (r12): a statement whose select list
        carries a single GLOBAL ranking window executes as
        operators.global_rank — range exchange + slice-local window +
        broadcast offset join — instead of Spark's single-task
        WindowExec ("No Partition Defined"); the reference relies on its
        single-node analytic sort (planner/AnalyticPlanner.java), which
        has no distributed equivalent without this split. Gated on
        statement input size like the distinct rewrite."""
        import impala_spark.rewrites as _rw_mod

        if nbytes is None or nbytes < _rw_mod.GLOBAL_RANK_MIN_INPUT_BYTES:
            return None
        plan = _rw_mod.parse_global_rank(q)
        if plan is None:
            return None
        from pyspark.sql import functions as F

        from impala_spark.functions import asc_impala, desc_impala
        from impala_spark.operators import global_rank

        base_df = self._sql_with_impala_errors(
            translate(plan.base_sql), spark=sess
        )
        # Impala default null ordering (ASC -> NULLS LAST, DESC -> NULLS
        # FIRST) — the translate shim injects this into SQL ORDER BYs;
        # the DataFrame path must match it explicitly.
        sort_cols = [
            (desc_impala if d else asc_impala)(F.col(f"__wo{i}"))
            for i, d in enumerate(plan.descending)
        ]
        # uniform direction: range-partition on the full order (better
        # balance); mixed: first key only — rows equal on it co-locate,
        # so cross-partition comparisons are decided by it alone
        uniform = len(set(plan.descending)) == 1
        part_cols = sort_cols if uniform else sort_cols[:1]
        ranked = global_rank(
            base_df, sort_cols, partition_order_by=part_cols,
            kind=plan.kind, out_col="__grank",
            num_partitions=int(
                sess.conf.get("spark.sql.shuffle.partitions", "32")
            ),
        )
        items = []
        for pos, alias in enumerate(plan.item_aliases):
            if pos == plan.win_pos:
                c = F.col("__grank")
                if plan.cast_type:
                    c = c.cast(plan.cast_type)
                items.append(c.alias(alias))
            else:
                items.append(ranked[alias])
        df = ranked.select(*items)
        if plan.out_order:
            ocols = []
            for name, desc, nulls in plan.out_order:
                c = df[name]
                if nulls == "FIRST":
                    c = c.desc_nulls_first() if desc else c.asc_nulls_first()
                elif nulls == "LAST":
                    c = c.desc_nulls_last() if desc else c.asc_nulls_last()
                else:
                    c = desc_impala(c) if desc else asc_impala(c)
                ocols.append(c)
            df = df.orderBy(*ocols)
        if plan.limit is not None:
            df = df.limit(plan.limit)
        return df

    def _gate_input_bytes(
        self, tables: frozenset[str]
    ) -> tuple[int | None, int | None]:
        """(estimate, bound): the input size of a statement reading
        `tables`, preferring catalog stats over file sizes (r10 verdict
        task #5 — the reference costs every such decision from COMPUTE
        STATS numbers). Per table: catalog sizeInBytes when promoted,
        the table's own files when its path is known (fixture parquet /
        managed warehouse dir), for an engine view the tables it reads,
        and for any other table (a catalog table of another database, a
        temp view made outside the engine) Catalyst's estimate.

        The estimate feeds admission and the size-gated rewrites, which
        fire above a size: the whole fixture dir stands in when there is
        no table or a table has no size (no estimate, no such name).
        The bound feeds the posture, which fires below a size, so it is
        the estimate only when every table's size is known, else None —
        the fixture dir bounds nothing stored elsewhere. Both None
        without a fixture dir (unknown scale: Catalyst's default
        plans)."""
        if self._sf_dir is None:
            return None, None
        import os as _os

        from impala_spark.session import (
            _dir_total_bytes,
            relation_bytes,
            table_stats_bytes,
        )

        fallback = _dir_total_bytes(self._sf_dir)
        if not tables:
            return fallback, fallback
        total = 0
        pending, seen_views = list(tables), set()
        while pending:
            r = pending.pop()
            if r in self._views and r in self._view_texts:
                if r not in seen_views:
                    seen_views.add(r)
                    pending.extend(scanned_tables(self._view_texts[r]))
                continue
            b = None
            if r in self._stats_tables:
                b = table_stats_bytes(
                    self.spark, self._sf_dir, r, self._stats_versions.get(r, 0)
                )
            if b is None:
                info = ddl.table_info(r)
                fixture = _os.path.join(self._sf_dir, f"{r}.parquet")
                if info is not None:
                    # fresh walk, not _dir_total_bytes: managed tables
                    # mutate, so a per-path size cache would go stale
                    b = 0
                    for root, _dirs, files in _os.walk(info.path):
                        for f in files:
                            try:
                                b += _os.path.getsize(_os.path.join(root, f))
                            except OSError:
                                pass
                elif r in TABLES and _os.path.exists(fixture):
                    b = _dir_total_bytes(fixture)
                else:
                    b = relation_bytes(self.spark, r)
            if b is None:
                return fallback, None
            total += b
        return total, total

    def _session_view_name(self, raw: str) -> str:
        """Resolve a possibly db-qualified view/table name to a session
        (temp-view) name. Fixture tables live as session temp views, so
        only the current database (`default`) is addressable; a
        qualified name in another database gets the reference's
        CreateTableOrViewStmt error rather than silently falling through
        to Spark-native parsing (analysis/CreateOrAlterViewStmtBase.java)."""
        name = raw.strip("`")
        if "." not in name:
            return name
        db, _, base = name.rpartition(".")
        db = db.strip("`")
        try:
            current = self.spark.catalog.currentDatabase()
        except Exception:
            current = "default"
        if db == current or db == "default":
            return base.strip("`")
        if not any(d.name == db for d in self.spark.catalog.listDatabases()):
            raise ImpalaAnalysisError(f"Database does not exist: {db}")
        raise ImpalaUnsupportedError(
            f"Views outside the current database are session-scoped on this "
            f"engine; USE {db} first, then CREATE VIEW {base.strip('`')}"
        )

    def _strict_create_guard(self, stmt: Stmt, tname: str) -> None:
        """Strict mode: any catalog-resolvable name (engine table, engine
        view, or fixture view) blocks CREATE like the reference analyzer
        (CreateTableStmt/CreateViewStmt 'Table already exists'); without
        it a strict CREATE TABLE region would silently SHADOW the fixture
        session view. Permissive mode keeps create-or-replace."""
        if self.strict and not stmt.match.group("ine") and self._exists(tname):
            raise ImpalaAnalysisError(f"Table already exists: default.{tname}")

    def _create_table_with_cols(self, stmt: Stmt) -> DataFrame:
        """CREATE TABLE t (cols...) [PARTITIONED BY (...)] [STORED AS fmt]
        [LOCATION ...] — balanced-paren extraction of the column list,
        then ddl.create_table registers an empty managed table."""
        from impala_spark.sources import format_spec

        q, m, rng = stmt.text, stmt.match, stmt.range_spec
        tname = self._session_view_name(m.group("target"))
        if m.group("ine") and self._exists(tname):
            # IF NOT EXISTS keeps ANY resolvable object — a managed
            # table, an engine view, or a fixture session view (shadowing
            # the fixture would silently empty the name)
            return ddl._ack(self.spark, "table exists (kept)")
        self._strict_create_guard(stmt, tname)
        open_idx = m.end() - 1
        depth = 0
        close_idx = -1
        for i in range(open_idx, len(q)):
            if q[i] == "(":
                depth += 1
            elif q[i] == ")":
                depth -= 1
                if depth == 0:
                    close_idx = i
                    break
        if close_idx < 0:
            raise ValueError(f"unbalanced column list in: {q!r}")
        col_defs = q[open_idx + 1:close_idx]
        rest = q[close_idx + 1:]
        part_defs = None
        pm = re.search(r"(?is)\bPARTITIONED\s+BY\s*\(", rest)
        if pm:
            d, j = 0, pm.end() - 1
            while j < len(rest):
                if rest[j] == "(":
                    d += 1
                elif rest[j] == ")":
                    d -= 1
                    if d == 0:
                        break
                j += 1
            part_defs = rest[pm.end():j]
        hm = _HASH_PART_RE.search(rest)
        sm = re.search(r"(?is)\bSTORED\s+AS\s+(\w+)", rest)
        if sm and not ((hm or rng) and sm.group(1).upper() == "KUDU"):
            # STORED AS KUDU rides the hash/range-partition dialect (the
            # reference's only hash/range-partitioned storage); anything
            # else validates as before
            format_spec(sm.group(1))  # validate; unsupported formats raise
        am = re.search(
            r"(?is)avro\.schema\.(?:literal'\s*=\s*'(?P<lit>(?:[^']|'')*)'"
            r"|url'\s*=\s*'(?P<url>[^']*)')", rest)
        if am and sm and sm.group(1).upper() == "AVRO":
            # declared columns + an Avro schema: the schema wins, except
            # string-typed declarations keep their CHAR/VARCHAR width
            # (AvroSchemaUtils.reconcileSchemas; warnings-only surface)
            from impala_spark.sources import (
                avro_schema_to_cols,
                reconcile_avro_cols,
            )

            if am.group("lit") is not None:
                lit = am.group("lit").replace("''", "'")
            else:
                from urllib.parse import urlparse

                p = urlparse(am.group("url")).path or am.group("url")
                with open(p) as fh:
                    lit = fh.read()
            avro_cols = [
                tuple(x.strip().split(" ", 1))
                for x in avro_schema_to_cols(lit).split(", ") if x
            ]
            declared, _pk9 = ddl._parse_col_defs(col_defs, normalize=False)
            merged = reconcile_avro_cols(
                [(c, t) for c, t in declared], avro_cols)
            col_defs = ", ".join(f"{c} {t}" for c, t in merged)
        if rng:
            if part_defs or hm:
                raise ImpalaUnsupportedError(
                    "PARTITION BY RANGE cannot be combined with other"
                    " partition clauses"
                )
            return ddl.create_table_range_partitioned(
                self.spark, tname, rng[0], rng[1], col_defs=col_defs,
            )
        if hm:
            if part_defs:
                raise ImpalaUnsupportedError(
                    "PARTITIONED BY and PARTITION BY HASH cannot be combined"
                )
            hcols = [c.strip().strip("`") for c in hm.group(1).split(",") if c.strip()]
            n = int(hm.group(2) or hm.group(3))
            return ddl.create_table_hash_bucketed(
                self.spark, tname, hcols, n, col_defs=col_defs,
            )
        return ddl.create_table(self.spark, tname, col_defs, part_defs)

    def _sql_with_impala_errors(
        self, spark_sql: str, spark: SparkSession | None = None
    ) -> DataFrame:
        """Run translated SQL, remapping Catalyst resolution failures onto
        the reference's exact analyzer messages (Analyzer.java:~712
        "Could not resolve table reference", Path resolution
        "Could not resolve column/field reference")."""
        from pyspark.errors import AnalysisException

        try:
            return (spark or self.spark).sql(spark_sql)
        except AnalysisException as e:
            cond = ""
            for attr in ("getCondition", "getErrorClass"):
                try:
                    cond = getattr(e, attr)() or ""
                    if cond:
                        break
                except Exception:
                    continue
            params: dict[str, str] = {}
            try:
                params = e.getMessageParameters() or {}
            except Exception:
                pass

            def _name(*keys: str) -> str:
                for k in keys:
                    v = params.get(k)
                    if v:
                        return v.replace("`", "")
                return ""

            if cond.startswith("TABLE_OR_VIEW_NOT_FOUND"):
                raise ImpalaAnalysisError(
                    f"Could not resolve table reference: '{_name('relationName')}'"
                ) from e
            if cond.startswith(("UNRESOLVED_COLUMN", "UNRESOLVED_FIELD", "FIELD_NOT_FOUND")):
                raise ImpalaAnalysisError(
                    "Could not resolve column/field reference: "
                    f"'{_name('objectName', 'fieldName')}'"
                ) from e
            if cond.startswith("UNRESOLVED_ROUTINE"):
                rn = _name("routineName")
                label = rn if "." in rn else f"default.{rn}"
                raise ImpalaAnalysisError(f"{label}() unknown") from e
            if cond.startswith("AMBIGUOUS_REFERENCE"):
                raise ImpalaAnalysisError(
                    f"Column/field reference is ambiguous: '{_name('name')}'"
                ) from e
            raise

    # -- COMPUTE STATS -> ANALYZE TABLE (analysis/ComputeStatsStmt.java) ---
    @_changes_catalog
    def compute_stats(self, table: str) -> DataFrame:
        """Impala COMPUTE STATS: table row count + per-column NDV/nulls/sizes
        (ComputeStatsStmt.java:218-242 issues exactly these child queries).
        Spark: ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS feeds
        the same numbers to the CBO.

        Fixture tables are PROMOTED to stats-backed catalog tables
        (session.register_stats_table): subsequent plain SELECTs over
        only-promoted tables plan in the stats session, where CBO + join
        reorder reproduce the broadcast shapes the registry otherwise
        needs hand hints for — the reference's own coupling (COMPUTE
        STATS feeds DistributedPlanner.java:420-536's cost model; without
        it the planner runs left-deep as written).
        """
        if table.split(".")[-1] in self._views:
            raise ImpalaAnalysisError(
                f"COMPUTE STATS not supported for view: {table.split('.')[-1]}")
        from impala_spark.session import (
            register_stats_managed,
            register_stats_table,
            stats_db_name,
        )

        tname = table.strip("`")
        info = ddl.table_info(tname)
        if info is not None and info.catalog_name:
            # hash-bucketed tables ARE catalog tables already: ANALYZE in
            # place (a LOCATION-pointing promotion would lose the bucket
            # spec, and with it the exchange-free joins the layout buys).
            # NTZ columns excluded — Spark 4.1.2's FilterEstimation
            # MatchError with CBO on (see the catalog-table path below).
            cols = [
                f.name
                for f in self.spark.table(info.catalog_name).schema.fields
                if f.dataType.typeName() != "timestamp_ntz"
            ]
            if cols:
                self.spark.sql(
                    f"ANALYZE TABLE {info.catalog_name} COMPUTE STATISTICS"
                    " FOR COLUMNS " + ", ".join(f"`{c}`" for c in cols)
                )
            else:
                self.spark.sql(
                    f"ANALYZE TABLE {info.catalog_name} COMPUTE STATISTICS"
                )
            self.spark.conf.set("spark.sql.cbo.enabled", "true")
            self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
            all_cols = self.spark.table(info.catalog_name).columns
            ndvs = ", ".join(
                f"approx_count_distinct(`{c}`) AS ndv_{c}" for c in all_cols
            )
            return self.spark.sql(
                f"SELECT count(*) AS row_count, {ndvs} FROM {info.catalog_name}"
            )
        if self._sf_dir and info is not None and tname not in self._views:
            # engine-created (CTAS/CREATE TABLE/INSERT target) table: the
            # reference's ComputeStatsStmt works on ANY catalog table —
            # promote it into the same stats db as the fixtures. Always
            # re-creates + re-ANALYZEs (mutable source; stale-memo guard).
            version = ddl.mutation_count(tname)
            if register_stats_managed(self.spark, self._sf_dir, info):
                self._stats_tables.add(tname)
                self._stats_versions[tname] = version
                db = stats_db_name(self._sf_dir)
                cols = self.spark.table(f"{db}.`{tname}`").columns
                ndvs = ", ".join(
                    f"approx_count_distinct(`{c}`) AS ndv_{c}" for c in cols
                )
                return self.spark.sql(
                    f"SELECT count(*) AS row_count, {ndvs} FROM {db}.`{tname}`"
                )
        if (
            self._sf_dir
            and tname in TABLES
            and tname not in self._views
            and ddl.table_info(tname) is None
            and register_stats_table(self.spark, self._sf_dir, tname)
        ):
            self._stats_tables.add(tname)
            db = stats_db_name(self._sf_dir)
            # same output contract as the temp-view path: the reference's
            # child-query numbers (row count + per-column NDV)
            cols = self.spark.table(f"{db}.`{tname}`").columns
            ndvs = ", ".join(
                f"approx_count_distinct(`{c}`) AS ndv_{c}" for c in cols
            )
            return self.spark.sql(
                f"SELECT count(*) AS row_count, {ndvs} FROM {db}.`{tname}`"
            )
        is_temp_view = any(
            t.name == table and t.tableType in ("TEMPORARY", "TEMP")
            for t in self.spark.catalog.listTables()
        )
        if is_temp_view:
            # ANALYZE doesn't work on temp views; compute the reference's
            # child-query stats directly so callers still get numbers.
            cols = self.spark.table(table).columns
            ndvs = ", ".join(
                f"approx_count_distinct(`{c}`) AS ndv_{c}" for c in cols
            )
            return self.spark.sql(f"SELECT count(*) AS row_count, {ndvs} FROM `{table}`")
        # Exclude TIMESTAMP_NTZ columns: Spark 4.1.2's FilterEstimation
        # has no TimestampNTZType case (MatchError at
        # FilterEstimation.scala:281, found r10) — with CBO on, NTZ
        # column stats crash the optimizer on the first join + NTZ
        # comparison (repro: two analyzed bucketed tables, ts filter).
        # The table keeps row-count stats; NTZ predicates just estimate
        # at default selectivity.
        cols = [
            f.name
            for f in self.spark.table(table).schema.fields
            if f.dataType.typeName() != "timestamp_ntz"
        ]
        if cols:
            self.spark.sql(
                f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(f"`{c}`" for c in cols)
            )
        else:
            self.spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
        # Stats unlock cost-based planning — the same coupling as the
        # reference (COMPUTE STATS is what feeds Impala's cost model;
        # without it the planner falls back to as-written join order).
        # The session default is cbo off because over stats-less,
        # path-based temp views CBO only adds per-plan metadata walks
        # (session.py); once catalog stats exist it starts paying for
        # join reordering and explain() cardinality annotations.
        self.spark.conf.set("spark.sql.cbo.enabled", "true")
        self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        return self.spark.sql(f"DESCRIBE EXTENDED {table}")

    # -- SET (query options) ------------------------------------------------
    @_changes_catalog
    def set_option(self, key: str, value: str) -> DataFrame:
        k = key.lower()
        self._user_set_options.add(k)
        if k == "request_pool":
            # REQUEST_POOL: validated against the placement policy right
            # away when pools are configured; the pool's default query
            # options apply UNDER anything the user set explicitly
            # (admission-control option precedence)
            pool = value.strip("'\" ")
            if self._pool_service is not None and pool:
                import getpass

                user = self._authz.user or getpass.getuser()
                resolved = self._pool_service.assign_to_pool(pool, user)
                if resolved is None or not self._pool_service.has_access(resolved, user):
                    raise ImpalaAnalysisError(
                        f"Request from user '{user}' with requested pool "
                        f"'{pool}' denied access to assigned pool"
                    )
                self._request_pool = pool
                defaults = self._pool_service.get_pool_config(resolved).default_query_options
                for item in filter(None, (s.strip() for s in defaults.split(","))):
                    dk, _, dv = item.partition("=")
                    dk = dk.strip().lower()
                    # unknown options are dropped like the backend's
                    # query-option parser; user-set options win
                    if dk in self._user_set_options or (
                        dk not in _QUERY_OPTIONS
                        and dk not in ("appx_count_distinct", "explain_level")
                    ):
                        continue
                    self.set_option(dk, dv.strip())
                    self._user_set_options.discard(dk)
            else:
                self._request_pool = pool
            return self.spark.createDataFrame(
                [(key, "set")], "option: string, status: string"
            )
        if k == "appx_count_distinct":
            # SelectStmt.java:643-665 — rewrite count(distinct) to ndv()
            self.appx_count_distinct = value.strip("'\" ").lower() in ("1", "true")
        elif k == "explain_level":
            # Planner.getExplainString levels (TExplainLevel): 0=MINIMAL,
            # 1=STANDARD, 2=EXTENDED, 3=VERBOSE (names accepted too)
            v = value.strip("'\" ").upper()
            names = {"MINIMAL": 0, "STANDARD": 1, "EXTENDED": 2, "VERBOSE": 3}
            self.explain_level = names.get(v, int(v) if v.isdigit() else 1)
        elif k in _QUERY_OPTIONS:
            conf = _QUERY_OPTIONS[k]
            if conf == "spark.sql.codegen.wholeStage":
                value = "false" if value.strip("'\" ").lower() in ("1", "true") else "true"
            if conf:
                self.spark.conf.set(conf, value.strip("'\" "))
        else:
            self.spark.conf.set(key if key.startswith("spark.") else f"spark.{key}", value.strip("'\" "))
        # literal DataFrame, not interpolated SQL — the user-supplied key
        # must never be spliced into a SQL string
        return self.spark.createDataFrame([(key, "set")], "option: string, status: string")

    # -- multi-statement scripts (impala-shell -f analog) -------------------
    def run_script(self, script: str) -> DataFrame:
        """Execute a `;`-separated statement script in order and return the
        LAST statement's DataFrame (impala-shell `-f file` / `-q "a; b"`
        behavior). Statements are split at top-level semicolons only —
        semicolons inside string literals/comments never split (the split
        walks the tokenizer's output, not raw text)."""
        from impala_spark.parser import tokenize, untokenize

        tokens = tokenize(script)
        stmts: list[str] = []
        start = 0
        for i, t in enumerate(tokens):
            if t.kind == "op" and t.text == ";":
                s = untokenize(tokens[start:i]).strip()
                if s:
                    stmts.append(s)
                start = i + 1
        tail = untokenize(tokens[start:]).strip()
        if tail:
            stmts.append(tail)
        if not stmts:
            raise ValueError("empty script")
        out: DataFrame | None = None
        for s in stmts:
            out = self.sql(s)
        assert out is not None
        return out

    # -- SHOW / DESCRIBE surfaces (service/MetadataOp.java) -----------------
    def show_tables(self, pattern: str | None = None) -> DataFrame:
        df = self.spark.sql("SHOW TABLES")
        if pattern:
            like = pattern.replace("*", ".*")
            df = df.filter(df.tableName.rlike(f"^{like}$"))
        return self._visible_tables(df)

    def _visible_tables(self, df: DataFrame) -> DataFrame:
        """A SHOW TABLES listing cut to the objects the user holds ANY
        privilege on — column-level grants included
        (TestShowTableResultsFiltered)."""
        if not self._authz.server_name:
            return df
        visible = [
            r.tableName for r in df.collect()
            if self._authz.visible_table(
                self.spark, f"{r.namespace}.{r.tableName}" if r.namespace else r.tableName)
        ]
        return df.filter(F.col("tableName").isin(visible))

    def show_databases(self) -> DataFrame:
        df = self.spark.sql("SHOW DATABASES")
        if self._authz.server_name:
            # TestShowDbResultsFiltered: only dbs the user has ANY
            # permission on (directly or via an object inside)
            visible = [
                r.namespace for r in df.collect()
                if self._authz.visible_db(self.spark, r.namespace)
            ]
            df = df.filter(F.col("namespace").isin(visible))
        return df

    def show_functions(
        self,
        category: str | None = None,
        pattern: str | None = None,
        db: str | None = None,
    ) -> DataFrame:
        """SHOW [AGGREGATE|ANALYTIC] FUNCTIONS [IN db] [[LIKE] 'pat']
        (ShowFunctionsStmt; category from opt_function_category). The
        category listings are the reference's builtin membership —
        engine-registered UDAs join the AGGREGATE list. Patterns use the
        reference's show_pattern ('*' wildcard, '|' alternation)."""
        if db is not None and db.lower() not in (
            d.name.lower() for d in self.spark.catalog.listDatabases()
        ):
            # ShowFunctionsStmt.analyze (AnalysisException text)
            raise ImpalaAnalysisError(f"Database does not exist: {db}")
        if category == "AGGREGATE":
            udas = {
                n for n, s in self._functions.items()
                if (e := ifn.UDF_LIBRARY.get(s.strip().strip("'\""))) and e[0]
            }
            names = sorted(set(_AGGREGATE_FNS) | udas)
            df = self.spark.createDataFrame(
                [(n,) for n in names], "function: string"
            )
        elif category == "ANALYTIC":
            df = self.spark.createDataFrame(
                [(n,) for n in _ANALYTIC_FNS], "function: string"
            )
        else:
            df = self.spark.sql("SHOW FUNCTIONS")
        if pattern:
            like = "|".join(
                re.escape(alt).replace(r"\*", ".*")
                for alt in pattern.split("|")
            )
            df = df.filter(F.col("function").rlike(f"^(?:{like})$"))
        return df

    def describe(self, table: str, formatted: bool = False) -> DataFrame:
        return self.spark.sql(f"DESCRIBE {'FORMATTED ' if formatted else ''}{table}")

    def show_partitions(self, table: str) -> DataFrame:
        """SHOW PARTITIONS (catalog/HdfsTable partition listing). Managed
        partitioned tables list distinct partition values + file stats;
        unpartitioned targets raise the reference's analysis text
        (A/ShowStatsStmt.java:74-77)."""
        bare = table.split(".")[-1]
        t = ddl.table_info(bare)
        if t is not None and t.partition_cols:
            df = self.spark.read.parquet(t.path)
            return (
                df.groupBy(*t.partition_cols)
                .agg(F.count(F.lit(1)).cast("bigint").alias("num_rows"))
                .orderBy(*t.partition_cols)
            )
        if bare in self._views:
            raise ImpalaAnalysisError(
                f"SHOW PARTITIONS not applicable to a view: default.{bare}")
        if t is not None:
            raise ImpalaAnalysisError(f"Table is not partitioned: default.{bare}")
        try:
            return self.spark.sql(f"SHOW PARTITIONS {table}")
        except Exception:
            # fixture views are this engine's unpartitioned HDFS tables;
            # unknown names resolve like the analyzer
            try:
                self.spark.table(bare)
            except Exception:
                raise ImpalaAnalysisError(f"Table does not exist: default.{bare}")
            raise ImpalaAnalysisError(f"Table is not partitioned: default.{bare}")

    def show_range_partitions(self, table: str) -> DataFrame:
        """SHOW RANGE PARTITIONS (A/ShowStatsStmt.java:78-97 analysis;
        output one row per range partition under a 'RANGE (cols)'
        column like the Kudu listing). Kudu-surface = engine tables with
        a primary key / hash layout; only range-partitioned ones list."""
        from pyspark.sql.types import StringType, StructField, StructType

        bare = table.split(".")[-1]
        t = ddl.table_info(bare)
        if bare in self._views:
            raise ImpalaAnalysisError(
                "SHOW RANGE PARTITIONS not applicable to a view: "
                f"default.{bare}")
        if t is None:
            # fixture views and unknown names: fixtures are the HDFS
            # tables of this engine
            try:
                self.spark.table(bare)
            except Exception:
                raise ImpalaAnalysisError(f"Table does not exist: default.{bare}")
            raise ImpalaAnalysisError(
                f"SHOW RANGE PARTITIONS must target a Kudu table: default.{bare}")
        if not t.range_cols:
            if t.primary_key or t.bucket_cols:
                raise ImpalaAnalysisError(
                    "SHOW RANGE PARTITIONS requested but table does not "
                    f"have range partitions: default.{bare}")
            raise ImpalaAnalysisError(
                f"SHOW RANGE PARTITIONS must target a Kudu table: default.{bare}")
        col = f"RANGE ({', '.join(t.range_cols)})"
        schema = StructType([StructField(col, StringType())])
        return self.spark.createDataFrame(
            [(d,) for d in _range_partition_descriptions(t)], schema)

    def show_files(self, table: str) -> DataFrame:
        """SHOW FILES IN t — data files + sizes (HdfsTable file descriptors)."""
        if table.split(".")[-1] in self._views:
            raise ImpalaAnalysisError(
                f"SHOW FILES not applicable to a non hdfs table: default.{table.split('.')[-1]}")
        import os

        t = ddl.table_info(table)
        if t is None:
            # view over files (fixture tables): the scan's file listing is
            # exactly the reference's file-descriptor set for the table;
            # a view over a fixture's in-memory copy lists the fixture's
            from urllib.parse import urlparse

            files = fixture_files(self.spark, table) or [
                urlparse(uri).path for uri in self.spark.table(table).inputFiles()]
            rows = [(os.path.basename(p), os.path.getsize(p)) for p in files]
            if not rows:
                raise ValueError(f"SHOW FILES: '{table}' has no backing files")
            return self.spark.createDataFrame(rows, "path: string, size_bytes: long")
        rows = []
        for root, _dirs, files in os.walk(t.path):
            for f in files:
                if f.endswith((".parquet", ".snappy.parquet")):
                    p = os.path.join(root, f)
                    rows.append((os.path.relpath(p, t.path), os.path.getsize(p)))
        return self.spark.createDataFrame(rows, "path: string, size_bytes: long")

    def show_table_stats(self, table: str) -> DataFrame:
        """SHOW TABLE STATS — row count + on-disk size + format
        (catalog/HdfsTable.java table-level stats)."""
        if table.split(".")[-1] in self._views:
            raise ImpalaAnalysisError(
                f"SHOW TABLE STATS not applicable to a view: default.{table.split('.')[-1]}")
        rows = self.spark.table(table).count()
        t = ddl.table_info(table)
        size = -1
        if t is not None:
            import os

            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(t.path)
                for f in fs
            )
        return self.spark.createDataFrame(
            [(rows, size, "PARQUET")], "num_rows: long, size_bytes: long, format: string"
        )

    def _set_column_stats(self, table: str, col: str, body: str) -> DataFrame:
        """ALTER TABLE ... SET COLUMN STATS col ('key'='value', ...) —
        manual metastore column stats (A/AlterTableSetColumnStats.java,
        exact analysis texts). Stored engine-side; SHOW COLUMN STATS
        surfaces them over the computed numbers, like the reference's
        SHOW reading what the HMS holds."""
        tname = table.strip("`").removeprefix("default.")
        try:
            sdf = self.spark.table(tname)
        except Exception as e:
            raise ImpalaAnalysisError(f"Table does not exist: default.{tname}") from e
        fields = {f.name.lower(): f for f in sdf.schema.fields}
        f = fields.get(col.lower())
        if f is None:
            # AlterTableSetColumnStats.java:64 exact text
            raise ImpalaAnalysisError(
                f"Column '{col}' does not exist in table: default.{tname}"
            )
        t = ddl.table_info(tname)
        if t is not None and col.lower() in {p.lower() for p in t.partition_cols}:
            # AlterTableSetColumnStats.java:70 exact text
            raise ImpalaAnalysisError(
                f"Updating the stats of a partition column is not allowed: {col}"
            )
        type_sql = f.dataType.simpleString().upper()
        if f.dataType.simpleString().startswith(("array", "map", "struct")):
            # ColumnStats.isSupportedColType rejects complex types
            raise ImpalaAnalysisError(
                f"Statistics for column '{f.name}' are not supported because "
                f"it has type '{type_sql}'."
            )
        variable_length = f.dataType.simpleString() in ("string", "binary") \
            or f.dataType.simpleString().startswith("varchar")
        from impala_spark.ddl import _PROP_PAIR_RE

        stored = self._manual_col_stats.setdefault((tname, f.name), {})
        for key, value in _PROP_PAIR_RE.findall(body):
            canon = next(
                (k for k in _COL_STATS_KEYS if k.lower() == key.lower()), None
            )
            if canon is None:
                raise ImpalaAnalysisError(
                    f"Invalid column stats key: {key}\n"
                    f"Valid keys are: {','.join(_COL_STATS_KEYS)}"
                )
            if canon in ("avgSize", "maxSize") and not variable_length:
                raise ImpalaAnalysisError(
                    f"Cannot update the '{canon}' stats of column '{f.name}' "
                    f"with type '{type_sql}'.\nChanging '{canon}' is only "
                    f"allowed for variable-length columns."
                )
            if canon in ("numDVs", "numNulls", "maxSize"):
                try:
                    v = int(value)
                except ValueError:
                    v = None
                if v is None or v < -1:
                    raise ImpalaAnalysisError(
                        f"Invalid stats value '{value}' for column stats key: "
                        f"{canon}\nExpected a positive integer or -1 for unknown."
                    )
                stored[canon] = v
            else:  # avgSize
                try:
                    v = float(value)
                except ValueError:
                    v = None
                import math as _math

                if v is None or _math.isnan(v) or _math.isinf(v) \
                        or (v < 0 and v != -1):
                    raise ImpalaAnalysisError(
                        f"Invalid stats value '{value}' for column stats key: "
                        f"{canon}\nExpected a positive floating-point number "
                        f"or -1 for unknown."
                    )
                stored[canon] = v
        return ddl._ack(self.spark, f"column stats set on {tname}.{f.name}")

    def show_column_stats(self, table: str) -> DataFrame:
        """SHOW COLUMN STATS — per-column NDV / null count / max size
        (the child-query stats ComputeStatsStmt.java:218-242 gathers).

        After COMPUTE STATS promoted the table, the numbers come from
        the metastore (DESCRIBE EXTENDED col) with NO scan — Impala's
        own behavior: SHOW COLUMN STATS reads what COMPUTE STATS stored,
        it never recomputes."""
        if table.split(".")[-1] in self._views:
            raise ImpalaAnalysisError(
                f"SHOW COLUMN STATS not applicable to a view: default.{table.split('.')[-1]}")
        tname = table.strip("`")
        if tname in self._stats_tables and self._sf_dir:
            from impala_spark.session import stats_db_name

            db = stats_db_name(self._sf_dir)
            sdf = self.spark.table(f"{db}.`{tname}`")
            rows = []
            for f in sdf.schema.fields:
                stats = {
                    r["info_name"]: r["info_value"]
                    for r in self.spark.sql(
                        f"DESCRIBE EXTENDED {db}.`{tname}` `{f.name}`"
                    ).collect()
                }

                def _num(key):
                    v = stats.get(key)
                    return int(v) if v is not None and v.isdigit() else -1

                rows.append(
                    (f.name, f.dataType.simpleString(),
                     _num("distinct_count"), _num("num_nulls"))
                )
            return self.spark.createDataFrame(
                self._apply_manual_col_stats(tname, rows),
                "column: string, type: string, ndv: long, num_nulls: long",
            )
        df = self.spark.table(table)
        aggs = []
        for f in df.schema.fields:
            aggs += [
                F.approx_count_distinct(f.name).alias(f"ndv_{f.name}"),
                F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"nulls_{f.name}"),
            ]
        r = df.agg(*aggs).first()
        rows = [
            (f.name, f.dataType.simpleString(), r[f"ndv_{f.name}"], r[f"nulls_{f.name}"])
            for f in df.schema.fields
        ]
        return self.spark.createDataFrame(
            self._apply_manual_col_stats(table.strip("`"), rows),
            "column: string, type: string, ndv: long, num_nulls: long",
        )

    def _apply_manual_col_stats(self, tname: str, rows: list) -> list:
        """Overlay ALTER TABLE SET COLUMN STATS values onto a SHOW COLUMN
        STATS row set — the manual stats shadow the computed ones, same
        as the reference's HMS write."""
        if not self._manual_col_stats:
            return rows
        out = []
        for name, typ, ndv, nulls in rows:
            manual = self._manual_col_stats.get((tname, name), {})
            out.append((
                name, typ,
                int(manual.get("numDVs", ndv)),
                int(manual.get("numNulls", nulls)),
            ))
        return out

    def show_create_table(self, table: str) -> DataFrame:
        """SHOW CREATE TABLE — reconstructed DDL text."""
        t = ddl.table_info(table)
        if t is not None:
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in self.spark.table(table).schema.fields)
            if t.bucket_cols:
                # Kudu-style hash layout: the reference's SHOW CREATE
                # TABLE emits the PARTITION BY clause (ToSqlUtils)
                part = (
                    f" PARTITION BY HASH ({', '.join(t.bucket_cols)})"
                    f" PARTITIONS {t.num_buckets}"
                )
            elif t.range_cols:
                items = [
                    f"PARTITION {d}" for d in _range_partition_descriptions(t)
                ]
                part = (
                    f" PARTITION BY RANGE ({', '.join(t.range_cols)})"
                    f" ({', '.join(items)})"
                )
            elif t.partition_cols:
                part = f" PARTITIONED BY ({', '.join(t.partition_cols)})"
            else:
                part = ""
            props = ""
            if t.cached_pool:
                props += f" CACHED IN '{t.cached_pool}'"
            if t.serde_properties:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(t.serde_properties.items()))
                props += f" WITH SERDEPROPERTIES ({kv})"
            if t.tbl_properties:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(t.tbl_properties.items()))
                props += f" TBLPROPERTIES ({kv})"
            fmt = getattr(t, "file_format", "PARQUET") or "PARQUET"
            ddl_text = f"CREATE TABLE {table} ({cols}) STORED AS {fmt}{part} LOCATION '{t.path}'{props}"
            return self.spark.createDataFrame([(ddl_text,)], "createtab_stmt: string")
        import os
        from urllib.parse import urlparse

        from pyspark.errors import AnalysisException

        # Spark's SHOW CREATE TABLE rejects temp views (fixture tables,
        # engine views), logging the failure: ask the catalog first
        try:
            temp = self.spark.catalog.getTable(table).isTemporary
        except AnalysisException:
            temp = False  # no such name: SHOW CREATE TABLE raises it
        if not temp:
            try:
                return self.spark.sql(f"SHOW CREATE TABLE {table}")
            except Exception:
                pass
        # temp view over files: reconstruct the external-table DDL
        df = self.spark.table(table)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        files = fixture_files(self.spark, table) or df.inputFiles()
        loc = os.path.dirname(urlparse(files[0]).path) if files else "<in-memory>"
        ddl_text = (
            f"CREATE EXTERNAL TABLE {table} ({cols}) STORED AS PARQUET LOCATION '{loc}'"
        )
        return self.spark.createDataFrame([(ddl_text,)], "createtab_stmt: string")

    # -- HS2/JDBC metadata ops (service/MetadataOp.java) ----------------------
    def get_catalogs(self) -> DataFrame:
        from impala_spark import metadata_ops as mo
        return mo.get_catalogs(self.spark)

    def get_schemas(self, catalog=None, schema_pattern=None) -> DataFrame:
        from impala_spark import metadata_ops as mo
        df = mo.get_schemas(self.spark, catalog, schema_pattern)
        if self._authz.server_name:
            # HS2 metadata is privilege-filtered like the SHOW surfaces
            # (AuthorizationTest.TestHs2GetSchema)
            visible = [
                r.TABLE_SCHEM for r in df.collect()
                if self._authz.visible_db(self.spark, r.TABLE_SCHEM)
            ]
            df = df.filter(F.col("TABLE_SCHEM").isin(visible))
        return df

    def get_tables(self, catalog=None, schema_pattern=None,
                   table_pattern=None, table_types=None) -> DataFrame:
        from impala_spark import metadata_ops as mo
        df = mo.get_tables(self.spark, catalog, schema_pattern,
                           table_pattern, table_types)
        if self._authz.server_name:
            # TestHs2GetTables: column-level grants keep the table listed
            visible = [
                r.TABLE_NAME for r in df.collect()
                if self._authz.visible_table(self.spark, r.TABLE_NAME)
            ]
            df = df.filter(F.col("TABLE_NAME").isin(visible))
        return df

    def get_table_types(self) -> DataFrame:
        from impala_spark import metadata_ops as mo
        return mo.get_table_types(self.spark)

    def get_columns(self, catalog=None, schema_pattern=None,
                    table_pattern=None, column_pattern=None) -> DataFrame:
        from impala_spark import metadata_ops as mo
        df = mo.get_columns(self.spark, catalog, schema_pattern,
                            table_pattern, column_pattern)
        if self._authz.server_name:
            # TestHs2GetColumns: only columns of visible tables return
            visible = [
                t for t in {r.TABLE_NAME for r in df.collect()}
                if self._authz.visible_table(self.spark, t)
            ]
            df = df.filter(F.col("TABLE_NAME").isin(visible))
        return df

    def get_functions(self, catalog=None, schema_pattern=None,
                      fn_pattern=None) -> DataFrame:
        from impala_spark import metadata_ops as mo
        return mo.get_functions(self.spark, catalog, schema_pattern,
                                fn_pattern)

    def get_type_info(self) -> DataFrame:
        from impala_spark import metadata_ops as mo
        return mo.get_type_info(self.spark)

    def rewrite_expr(self, expr_sql: str, rules=None) -> str:
        """Run the reference's ExprRewriteRules over a scalar expression
        and return the rewritten Impala SQL (rewrite/ExprRewriter.java:36,
        BetweenToCompoundRule/ExtractCommonConjunctRule/FoldConstantsRule).

        ``rules`` is a rule-name list (see exprrules.RULES_BY_NAME);
        defaults to the full list in the reference's registration order
        (A/Analyzer.java registers BetweenToCompound before the planner's
        constant folding). This is a frontend surface: Catalyst performs
        the equivalent optimizations during planning regardless.
        """
        from impala_spark.exprrules import RULES_BY_NAME, rewrite_sql

        if rules is None:
            rules = list(RULES_BY_NAME)
        return rewrite_sql(expr_sql, rules)[0]

    # -- EXPLAIN (Frontend.getExplainString analog) --------------------------
    def to_sql(self, query: str) -> str:
        """The reference's analyzed-statement toSql() — the spelling
        views persist and SHOW CREATE VIEW replays (A/SelectStmt.java
        #toSql, pinned by T/analysis/ToSqlTest.java). Bare table refs
        qualify against the session database like the analyzer's
        resolution step. The ToSqlTest surface is the query family;
        DDL/DML statements (a WITH-prefixed INSERT/UPSERT included)
        replay verbatim — their toSql in the reference is
        statement-specific and our engine re-parses the original text."""
        from impala_spark.tosql import to_impala_sql

        text = query.strip().rstrip(";")
        if self.classify(_hoist_with_clause(text)).kind != "query":
            return text
        return to_impala_sql(
            query, default_db=self.spark.catalog.currentDatabase()
        )

    def _explain_sink(self, stmt: Stmt) -> str | None:
        """The sink line the reference's planner puts at the root of a
        write statement's plan (HdfsTableSink 'WRITE TO HDFS [db.t,
        OVERWRITE=...]'; Kudu-surface UPDATE/DELETE/UPSERT sinks), which
        EXPLAIN prints over the planned SOURCE query. None for queries."""
        kind, t = stmt.kind, stmt.target
        if kind not in _EXPLAINABLE_KINDS or (
            kind in ("insert", "upsert") and not stmt.source
        ):
            # the grammar only accepts EXPLAIN over query/DML statements
            # (sql-parser.cup explain_stmt) — anything else is a syntax
            # error, and must never execute as a side effect. An INSERT/
            # UPSERT form the insert row cannot split has no source to
            # plan, and spark.sql would run it as a write
            head = stmt.text.split(None, 1)[0].upper()
            raise ImpalaUnsupportedError(
                f"Syntax error: EXPLAIN is not supported for {head} "
                "statements (EXPLAIN accepts queries, INSERT/UPSERT/"
                "UPDATE/DELETE, and CREATE TABLE AS SELECT)"
            )
        if kind == "ctas":
            # plans the source under the table sink — it must NEVER
            # execute the create (spark.sql runs commands eagerly)
            sink = f"WRITE TO HDFS [default.{t}, OVERWRITE=false]"
        elif kind == "insert" and stmt.source:
            overwrite = stmt.match.group("mode").upper() == "OVERWRITE"
            sink = f"WRITE TO HDFS [default.{t}, OVERWRITE={str(overwrite).lower()}]"
        elif kind == "upsert" and stmt.source:
            sink = f"UPSERT INTO [default.{t}]"
        elif kind in ("update", "delete") and ddl.table_info(t) is not None:
            # plans ModifyStmt's source statement: the joined refs of the
            # join form, the target otherwise
            sink = f"UPDATE [default.{t}]" if kind == "update" else f"DELETE FROM [default.{t}]"
        else:
            return None
        return sink

    def explain(self, query: str) -> str:
        """Impala-style plan text (planner/PlanNode.getExplainString analog).

        Maps Spark physical nodes to the reference's node names so the
        plan-shape reads like an Impala EXPLAIN. `EXCHANGE` markers appear
        exactly where the reference's DistributedPlanner would insert
        ExchangeNodes (shuffle boundaries).
        """
        self._point_views()
        stmt = self.classify(query.strip().rstrip(";"))
        sink = self._explain_sink(stmt)
        # EXPLAIN plans through the same builder as execution: the same
        # strict analysis and error texts, the same session, the same
        # plan rewrites and posture — after COMPUTE STATS the text shows
        # the CBO plan, above the distinct-rewrite gate the two-phase
        # join plan, and over KB-sized tables the single-node plan the
        # statement will actually get (the reference's EXPLAIN always
        # reflects the executed plan). A write's source plans as the
        # write runs it, in the engine session's own posture.
        src = stmt if sink is None else self.classify(stmt.plan_source or stmt.source)
        nbytes, bound = self._gate_input_bytes(src.tables)
        df, _sess = self._query_df(src, nbytes, bound if sink is None else None)
        text = self._plan_text(df)
        return text if sink is None else f"{sink}\n|\n{text}"

    def _plan_text(self, df: DataFrame) -> str:
        """The Impala-style plan text of `df`'s executed plan (explain)."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        # Cardinality/size annotations (planner/PlanNode.getExplainString
        # emits per-node "cardinality=N size=B"): Catalyst's stats live on
        # the optimized LOGICAL plan — root estimate for the plan header,
        # per-leaf estimates for the scans (in traversal order, which
        # matches the physical scans' order). rowCount needs CBO stats
        # (COMPUTE STATS / ANALYZE TABLE); absent those Impala prints
        # "unavailable" and so do we.
        def _fmt_stats(st) -> str:
            try:
                rc = st.rowCount()
                card = str(rc.get()) if not rc.isEmpty() else "unavailable"
            except Exception:
                card = "unavailable"
            try:
                size = int(st.sizeInBytes())
            except Exception:
                size = None
            if size is not None and size >= (1 << 62):
                # Catalyst's unknown-stats default is Long.MaxValue —
                # the reference prints unavailable, not 8192PB
                size = None
            size_s = _print_bytes(size) if size is not None else "unavailable"
            return f"cardinality={card} size={size_s}"

        # A leaf that is an in-memory copy (a fixture view's, or a table
        # cached by ALTER TABLE ... SET CACHED) reads as the table it
        # copies, as Impala's plan shows a scan of an HDFS-cached table:
        # the estimates use the copied plan's stats. Once the copy is
        # filled Catalyst sizes it by the bytes it holds instead; the
        # scan line then shows that size too, as the one the planner uses.
        header = ""
        leaves: list[tuple[object, object]] = []  # (stats, relation leaf)
        scan_stats: list[str] = []
        try:
            opt = qe.optimizedPlan()
            header = f"   {_fmt_stats(opt.stats())}\n"
            found = opt.collectLeaves()
            for i in range(found.size()):
                leaf = found.apply(i)
                st = leaf.stats()
                if leaf.nodeName() == "InMemoryRelation":
                    source = leaf.cacheBuilder().logicalPlan().collectLeaves().apply(0)
                    copied = leaf.statsOfPlanToCache()
                    shown = _fmt_stats(copied)
                    held = int(st.sizeInBytes())
                    if held != int(copied.sizeInBytes()):
                        shown += f", in-memory size={_print_bytes(held)}"
                    leaves.append((copied, source))
                    scan_stats.append(shown)
                else:
                    leaves.append((st, leaf))
                    scan_stats.append(_fmt_stats(st))
        except Exception:
            pass
        out = []
        node_id = 0
        mapping = [
            (r"AdaptiveSparkPlan.*", None),
            (r"ResultQueryStage.*", None),
            (r"ShuffleQueryStage.*", None),
            (r"BroadcastQueryStage.*", None),
            (r"InputAdapter.*", None),
            (r"WholeStageCodegen.*", None),
            (r"ReusedExchange.*", "EXCHANGE (reused)"),
            (r"Exchange hashpartitioning.*", "EXCHANGE [HASH]"),
            (r"Exchange rangepartitioning.*", "EXCHANGE [RANGE]"),
            (r"Exchange SinglePartition.*", "EXCHANGE [UNPARTITIONED]"),
            (r"BroadcastExchange.*", "EXCHANGE [BROADCAST]"),
            (r"BroadcastHashJoin.*", "HASH JOIN [BROADCAST]"),
            (r"ShuffledHashJoin.*", "HASH JOIN [PARTITIONED]"),
            (r"SortMergeJoin.*", "MERGE JOIN [PARTITIONED]"),
            (r"BroadcastNestedLoopJoin.*", "NESTED LOOP JOIN [BROADCAST]"),
            (r"CartesianProduct.*", "NESTED LOOP JOIN [CROSS]"),
            (r"HashAggregate\(keys=\[\].*, functions=.*", "AGGREGATE"),
            (r"HashAggregate.*", "AGGREGATE [HASH]"),
            (r"ObjectHashAggregate.*", "AGGREGATE [HASH]"),
            (r"SortAggregate.*", "AGGREGATE [SORT]"),
            (r"TakeOrderedAndProject.*", "TOP-N"),
            (r"Sort .*", "SORT"),
            (r"Filter .*", "SELECT (filter)"),
            (r"Project .*", "PROJECT"),
            (r"Window .*", "ANALYTIC"),
            (r"Expand .*", "EXPAND (distinct agg)"),
            (r"GlobalLimit.*", "LIMIT"),
            (r"LocalLimit.*", "LIMIT (local)"),
            (r"Union", "UNION"),
            (r"Generate .*", "UNNEST"),
            (r".*Scan parquet.*", "SCAN PARQUET"),
            (r"Scan .*", "SCAN"),
            (r"LocalTableScan.*", "VALUES/LOCAL SCAN"),
            (r"RowToColumnar.*", None),
            (r"ColumnarToRow.*", None),
        ]
        # Per-scan stats pair logical leaves with physical scan lines by
        # position; that alignment only holds when the counts agree (a
        # ReusedExchange or AQE replan can drop/reorder physical scans).
        # On mismatch, skip per-scan annotations rather than mislabel.
        # An in-memory scan is one SCAN line, named after the first scan
        # of the plan it copies, which Spark prints nested below it (that
        # plan runs once, to fill the copy, so its nodes are not shown).
        matched: list[list] = []  # [name, indent]
        copy_indent = None  # indent of the in-memory scan being read
        for raw in plan.split("\n"):
            stripped = raw.lstrip(" +-:*()0123456789")
            indent = len(raw) - len(raw.lstrip(" +-:"))
            if copy_indent is not None:
                if indent > copy_indent:
                    if matched[-1][0] == "SCAN" and stripped.startswith(("FileScan", "Scan")):
                        matched[-1][0] = next(
                            (n for p, n in mapping if re.match(p, stripped)), "SCAN")
                    continue
                copy_indent = None
            if stripped.startswith("Scan In-memory table"):
                matched.append(["SCAN", indent])
                copy_indent = indent
                continue
            for pat, name in mapping:
                if re.match(pat, stripped):
                    if name:
                        matched.append([name, indent])
                    break
        n_scan_lines = sum(name.startswith("SCAN") for name, _indent in matched)
        annotate_scans = n_scan_lines == len(scan_stats)
        # Per-host resource estimate header (Planner.computeResourceReqs
        # analog) from the reference's cost-model constants:
        #   hash-table space overhead 1.1        (PlannerContext.java:38)
        #   min hash table 10 MiB, agg cap 128M  (AggregationNode.java:53-56)
        #   8 MiB IO buffers, <=10 per thread    (HdfsScanNode.java:81-92)
        # Input sizes come from Catalyst's optimized-plan stats; absent CBO
        # stats Impala prints "unavailable" per node but still sums floors.
        MiB = 1024 * 1024
        leaf_sizes = []
        missing_stats: list[str] = []
        for st, leaf in leaves:
            try:
                lb = int(st.sizeInBytes())
            except Exception:
                continue
            # Catalyst's unknown-stats default is Long.MaxValue — a
            # zero-file scan would otherwise estimate petabytes of
            # per-host memory
            leaf_sizes.append(0 if lb >= (1 << 62) else lb)
            # Planner.getExplainString:295-307 missing-stats warning —
            # a leaf without a CBO rowCount is a stats-less table
            try:
                if st.rowCount().isEmpty():
                    name = leaf.relation().location().rootPaths().head().getName()
                    name = name.removesuffix(".parquet")
                    if f"default.{name}" not in missing_stats:
                        missing_stats.append(f"default.{name}")
            except Exception:
                pass
        total_mem = 0
        scan_i = 0
        vcores = 0
        for name, _indent in matched:
            if name.startswith("SCAN"):
                size = leaf_sizes[scan_i] if scan_i < len(leaf_sizes) else 0
                scan_i += 1
                total_mem += min(size, 10 * 8 * MiB)  # <=10 8MiB IO buffers
                vcores += 1
            elif name.startswith("AGGREGATE"):
                src = max(leaf_sizes, default=0)
                total_mem += min(max(int(src * 1.1), 10 * MiB), 128 * MiB)
            elif "JOIN [BROADCAST]" in name or "JOIN [PARTITIONED]" in name:
                build = min(leaf_sizes, default=0)
                total_mem += max(int(build * 1.1), 10 * MiB)
        resources = (
            "Estimated Per-Host Requirements: "
            f"Memory={total_mem / MiB:.2f}MB VCores={max(vcores, 1)}\n"
        )
        if missing_stats:
            # Planner.getExplainString:295-307 exact warning text
            resources += (
                "WARNING: The following tables are missing relevant table "
                "and/or column statistics.\n" + ", ".join(missing_stats) + "\n"
            )
        scan_seen = 0
        for name, indent in matched:
            line = f"{'|  ' * (indent // 3)}{node_id:02d}:{name}"
            if name.startswith("SCAN") and annotate_scans:
                line += f"  [{scan_stats[scan_seen]}]"
                scan_seen += 1
            out.append(line)
            node_id += 1
        if not out:
            return plan
        level = getattr(self, "explain_level", 1)
        body = "\n".join(out)
        if level <= 0:  # MINIMAL: plan shape only
            return body
        text = resources + header + body
        if level >= 3:  # VERBOSE: append the physical plan (fragment detail)
            text += "\n---- Spark physical plan ----\n" + plan
        return text
