"""Sentry-style authorization: roles, privileges, and enforcement.

Reference surface (SURVEY §2 row 15, previously out of scope):
  * analysis/CreateDropRoleStmt.java       — CREATE/DROP ROLE
  * analysis/GrantRevokeRoleStmt.java      — GRANT/REVOKE ROLE ... GROUP
  * analysis/GrantRevokePrivStmt.java:29-90 — GRANT/REVOKE <priv> ON ...
  * analysis/PrivilegeSpec.java:175-290    — scope/privilege compatibility
  * analysis/AuthorizationStmt.java:29-48  — enabled/username gating
  * analysis/ShowRolesStmt.java, ShowGrantRoleStmt.java — SHOW surfaces
  * authorization/AuthorizationChecker.java:125-145 — enforcement texts
  * pinned by T/analysis/AnalyzeAuthStmtsTest.java

The reference stores policy in the Sentry service and asks it on every
statement; here the policy is an engine-owned catalog with the same
statement grammar, the same analysis rules and error texts, and the
same enforcement failure mode. Policy state is tiny (roles x grants) —
at any scale it lives on the coordinator/driver and costs nothing per
data row, exactly like the reference's cached AuthorizationPolicy.

Enforcement model (engine.sql calls AuthzPolicy.check_access):
  * SELECT statements require SELECT (or ALL) on every referenced base
    table, at table, database, or server scope.
  * INSERT/UPSERT require INSERT (or ALL) on the target table,
    UPDATE/DELETE/TRUNCATE require ALL on it; each also requires SELECT
    on every other table its source query reads.
  * CREATE/DROP TABLE/VIEW require ALL at database or server scope.
  * Column-level SELECT grants authorize a statement only when every
    identifier in it that names a column of that table is covered by
    the grant — a CONSERVATIVE over-approximation (an alias that
    happens to collide with an ungranted column denies instead of
    allowing; never the reverse). The reference resolves exact slots;
    documented simplification.
  * Table-targeted SHOW/DESCRIBE metadata surfaces require ANY
    privilege on the object (check_metadata_access), COMPUTE STATS
    requires ALL, and EXPLAIN is authorized like the statement it
    explains — matching the reference's Privilege.ANY/ALL requests.
  * Shapes outside the Impala grammar that Spark runs natively (`FROM t
    SELECT ...`, CACHE TABLE, CREATE TEMPORARY VIEW) require SELECT on
    the tables the resolver finds plus a server-scope grant (SELECT for
    reads, ALL for command heads); `TABLE t` is a SELECT of t.
"""

from __future__ import annotations

import getpass
import re
from dataclasses import dataclass, field

from impala_spark.engine import ImpalaAnalysisError

__all__ = ["AuthzPolicy", "AuthorizationError"]


class AuthorizationError(ImpalaAnalysisError):
    """AuthorizationException analog (raised as an analysis-time error,
    like the reference's Frontend which fails the statement before
    planning)."""


@dataclass
class _Priv:
    priv: str                 # ALL | SELECT | INSERT
    scope: str                # SERVER | DATABASE | TABLE | URI
    obj: str                  # '' / db name / db.table / uri
    columns: tuple[str, ...] = ()
    grant_option: bool = False

    def key(self) -> tuple:
        return (self.priv, self.scope, self.obj.lower(), self.columns)


_CREATE_DROP_ROLE_RE = re.compile(
    r"^\s*(CREATE|DROP)\s+ROLE\s+(`[^`]+`|\w+)\s*$", re.IGNORECASE)
_GRANT_REVOKE_ROLE_RE = re.compile(
    r"^\s*(GRANT|REVOKE)\s+ROLE\s+(`[^`]+`|\w+)\s+(?:TO|FROM)\s+GROUP\s+"
    r"(`[^`]+`|\w+)\s*$", re.IGNORECASE)
_GRANT_PRIV_RE = re.compile(
    r"^\s*GRANT\s+(?P<priv>ALL|SELECT|INSERT)\s*(?:\((?P<cols>[^)]*)\))?\s+"
    r"ON\s+(?P<scope>SERVER|DATABASE|TABLE|URI)\s*(?P<obj>'[^']*'|[\w.`]+)?\s+"
    r"TO\s+(?:ROLE\s+)?(?P<role>`[^`]+`|\w+)"
    r"(?P<gopt>\s+WITH\s+GRANT\s+OPTION)?\s*$", re.IGNORECASE)
_REVOKE_PRIV_RE = re.compile(
    r"^\s*REVOKE\s+(?P<gopt>GRANT\s+OPTION\s+FOR\s+)?"
    r"(?P<priv>ALL|SELECT|INSERT)\s*(?:\((?P<cols>[^)]*)\))?\s+"
    r"ON\s+(?P<scope>SERVER|DATABASE|TABLE|URI)\s*(?P<obj>'[^']*'|[\w.`]+)?\s+"
    r"FROM\s+(?:ROLE\s+)?(?P<role>`[^`]+`|\w+)\s*$", re.IGNORECASE)
_SHOW_ROLES_RE = re.compile(r"^\s*SHOW\s+ROLES\s*$", re.IGNORECASE)
_SHOW_CURRENT_ROLES_RE = re.compile(
    r"^\s*SHOW\s+CURRENT\s+ROLES\s*$", re.IGNORECASE)
_SHOW_ROLE_GRANT_RE = re.compile(
    r"^\s*SHOW\s+ROLE\s+GRANT\s+GROUP\s+(`[^`]+`|\w+)\s*$", re.IGNORECASE)
_SHOW_GRANT_ROLE_RE = re.compile(
    r"^\s*SHOW\s+GRANT\s+ROLE\s+(`[^`]+`|\w+)"
    r"(?:\s+ON\s+(SERVER|DATABASE|TABLE|URI)\s*('[^']*'|[\w.`]+)?)?\s*$",
    re.IGNORECASE)

#: URI schemes the sandbox "filesystem" accepts (HdfsUri analysis —
#: "No FileSystem for scheme: x" otherwise)
_KNOWN_URI_SCHEMES = {"hdfs", "file", "s3a", ""}


class AuthzPolicy:
    """Engine-owned authorization policy: the Sentry service analog.

    server_name=None means authorization is DISABLED (the reference
    without --server_name): every authorization statement raises the
    AuthorizationStmt.java gating text and check_access is a no-op, so
    the default engine behaves exactly as before this module existed."""

    def __init__(self, server_name: str | None = None, user: str | None = None):
        self.server_name = server_name
        self.user = user if user is not None else getpass.getuser()
        #: lower role name -> display name (role names case-insensitive,
        #: AnalyzeAuthStmtsTest "Role names are case-insensitive")
        self.roles: dict[str, str] = {}
        self.role_groups: dict[str, set[str]] = {}
        self.role_privs: dict[str, list[_Priv]] = {}
        #: user -> groups; the Hadoop-groups analog default puts each
        #: user in a same-named primary group
        self.user_groups: dict[str, set[str]] = {}

    # -- gating (AuthorizationStmt.java:33-48) ---------------------------
    def _require_enabled(self) -> None:
        if not self.server_name:
            raise ImpalaAnalysisError(
                "Authorization is not enabled. To enable authorization"
                " restart Impala with the --server_name=<name> flag."
            )
        if not self.user:
            raise ImpalaAnalysisError(
                "Cannot execute authorization statement with an empty"
                " username."
            )

    @staticmethod
    def _short_name(user: str) -> str:
        """Kerberos principal -> short name for group/role resolution
        (User.getShortName, pinned by TestShortUsernameUsed):
        'u/host@REALM' -> 'u'; a leading '/' keeps the name whole."""
        if not user or user[0] == "/":
            return user
        import re as _re

        return _re.split(r"[/@]", user, 1)[0]

    def _groups_of(self, user: str) -> set[str]:
        user = self._short_name(user)
        return self.user_groups.get(user, {user})

    def _roles_of(self, user: str) -> list[str]:
        groups = {g.lower() for g in self._groups_of(user)}
        return [
            r for r, gs in self.role_groups.items()
            if groups & {g.lower() for g in gs}
        ]

    def _existing(self, role: str) -> str:
        key = role.strip("`").lower()
        if key not in self.roles:
            raise ImpalaAnalysisError(
                f"Role '{role.strip('`')}' does not exist."
            )
        return key

    # -- statement handlers ----------------------------------------------
    def execute(self, spark, q: str, engine=None):
        """Run an authorization statement; returns a DataFrame (the SHOW
        forms return their result surface, the mutations a status row)."""
        m = _CREATE_DROP_ROLE_RE.match(q)
        if m:
            self._require_enabled()
            kind, role = m.group(1).upper(), m.group(2).strip("`")
            key = role.lower()
            if kind == "CREATE":
                if key in self.roles:
                    raise ImpalaAnalysisError(f"Role '{role}' already exists.")
                self.roles[key] = role
                self.role_groups.setdefault(key, set())
                self.role_privs.setdefault(key, [])
                return _status(spark, f"role {role} created")
            self._existing(role)
            self.roles.pop(key)
            self.role_groups.pop(key, None)
            self.role_privs.pop(key, None)
            return _status(spark, f"role {role} dropped")

        m = _GRANT_REVOKE_ROLE_RE.match(q)
        if m:
            self._require_enabled()
            kind = m.group(1).upper()
            role, group = m.group(2).strip("`"), m.group(3).strip("`")
            key = self._existing(role)
            if kind == "GRANT":
                self.role_groups[key].add(group)
            else:
                self.role_groups[key].discard(group)
            return _status(spark, f"role {role} {kind.lower()}ed")

        m = _GRANT_PRIV_RE.match(q) or _REVOKE_PRIV_RE.match(q)
        if m:
            self._require_enabled()
            is_grant = q.lstrip()[:5].upper() == "GRANT"
            p = self._analyze_priv_spec(spark, m, engine)
            key = self._existing(m.group("role"))
            if is_grant:
                if not any(x.key() == p.key() for x in self.role_privs[key]):
                    self.role_privs[key].append(p)
                elif p.grant_option:
                    for x in self.role_privs[key]:
                        if x.key() == p.key():
                            x.grant_option = True
                return _status(spark, "privilege granted")
            if m.group("gopt"):
                # REVOKE GRANT OPTION FOR ...: strip the option only
                for x in self.role_privs[key]:
                    if x.key() == p.key():
                        x.grant_option = False
                return _status(spark, "grant option revoked")
            self.role_privs[key] = [
                x for x in self.role_privs[key] if x.key() != p.key()
            ]
            return _status(spark, "privilege revoked")

        if _SHOW_ROLES_RE.match(q):
            self._require_enabled()
            return _rows(spark, "role_name: string",
                         [(r,) for r in sorted(self.roles.values())])
        if _SHOW_CURRENT_ROLES_RE.match(q):
            self._require_enabled()
            names = sorted(self.roles[k] for k in self._roles_of(self.user))
            return _rows(spark, "role_name: string", [(r,) for r in names])
        m = _SHOW_ROLE_GRANT_RE.match(q)
        if m:
            self._require_enabled()
            g = m.group(1).strip("`").lower()
            names = sorted(
                self.roles[k] for k, gs in self.role_groups.items()
                if g in {x.lower() for x in gs}
            )
            return _rows(spark, "role_name: string", [(r,) for r in names])
        m = _SHOW_GRANT_ROLE_RE.match(q)
        if m:
            self._require_enabled()
            key = self._existing(m.group(1))
            scope = (m.group(2) or "").upper()
            obj = (m.group(3) or "").strip("`'").lower()
            if scope == "TABLE" and obj:
                obj = ".".join(self._qualify(spark, obj))
            out = []
            for p in self.role_privs[key]:
                if scope and (p.scope != scope or
                              (obj and p.obj.lower() != obj)):
                    continue
                cols = list(p.columns) or [""]
                for c in cols:
                    out.append((
                        p.scope.lower(),
                        p.obj if p.scope == "DATABASE" else (
                            p.obj.split(".")[0] if p.scope == "TABLE"
                            else ""),
                        (p.obj.split(".", 1)[-1]
                         if p.scope == "TABLE" else ""),
                        c,
                        p.obj if p.scope == "URI" else "",
                        p.priv.lower(),
                        p.grant_option,
                    ))
            # the reference's SHOW GRANT ROLE surface (Sentry-backed
            # AuthorizationPolicy): scope/database/table/column/uri/
            # privilege/grant_option (create_time omitted — wall-clock)
            return _rows(
                spark,
                "scope: string, database: string, table: string,"
                " column: string, uri: string, privilege: string,"
                " grant_option: boolean",
                sorted(out),
            )
        raise ValueError(f"not an authorization statement: {q!r}")

    # -- PrivilegeSpec.java:175-290 ---------------------------------------
    def _analyze_priv_spec(self, spark, m, engine=None) -> _Priv:
        priv = m.group("priv").upper()
        scope = m.group("scope").upper()
        obj = (m.group("obj") or "").strip("`")
        cols_text = m.group("cols")
        if scope == "SERVER":
            if obj and obj != self.server_name:
                raise ImpalaAnalysisError(
                    f"Specified server name '{obj}' does not match the"
                    f" configured server name '{self.server_name}'"
                )
            obj = ""
        if scope in ("SERVER", "URI") and priv != "ALL":
            raise ImpalaAnalysisError(
                f"Only 'ALL' privilege may be applied at {scope} scope"
                " in privilege spec."
            )
        if scope == "URI":
            obj = obj.strip("'")
            scheme = obj.split("://")[0] if "://" in obj else (
                obj.split(":", 1)[0] if ":" in obj else "")
            if scheme not in _KNOWN_URI_SCHEMES:
                raise ImpalaAnalysisError(
                    f"No FileSystem for scheme: {scheme}"
                )
        if cols_text is not None:
            columns = tuple(
                sorted({c.strip().strip("`") for c in cols_text.split(",")
                        if c.strip()})
            )
            if not columns:
                raise ImpalaAnalysisError(
                    "Empty column list in column privilege spec."
                )
            if priv != "SELECT":
                raise ImpalaAnalysisError(
                    "Only 'SELECT' privileges are allowed in a column"
                    " privilege spec."
                )
            if scope != "TABLE":
                # the reference's grammar only produces column lists
                # under ON TABLE (cup privilege_spec)
                raise ImpalaAnalysisError(
                    "Column privileges are only allowed at TABLE scope"
                    " in privilege spec."
                )
        else:
            columns = ()
        if scope == "DATABASE":
            dbs = {d.name for d in spark.catalog.listDatabases()}
            if obj.lower() not in {d.lower() for d in dbs}:
                raise ImpalaAnalysisError(
                    f"Error setting privileges for database '{obj}'."
                    " Verify that the database exists and that you have"
                    " permissions to issue a GRANT/REVOKE statement."
                )
        if scope == "TABLE":
            from impala_spark import ddl

            bare = obj.split(".")[-1]
            is_view = engine is not None and bare in getattr(engine, "_views", set())
            exists = (
                ddl.table_info(bare) is not None
                or spark.catalog.tableExists(bare)
                or is_view
            )
            if not exists:
                raise ImpalaAnalysisError(
                    f"Error setting privileges for table '{obj}'. Verify"
                    " that the table exists and that you have permissions"
                    " to issue a GRANT/REVOKE statement."
                )
            if columns:
                if is_view:
                    raise ImpalaAnalysisError(
                        "Column-level privileges on views are not"
                        " supported."
                    )
                actual = {c.lower() for c in spark.table(bare).columns}
                if not {c.lower() for c in columns} <= actual:
                    raise ImpalaAnalysisError(
                        f"Error setting column-level privileges for table"
                        f" '{obj}'. Verify that both table and columns"
                        " exist and that you have permissions to issue a"
                        " GRANT/REVOKE statement."
                    )
            # stored as db.table: a bare name is the current database's
            # when the grant runs, not when a later statement is checked
            db, _, table = obj.rpartition(".")
            obj = f"{db or spark.catalog.currentDatabase()}.{table}"
        return _Priv(priv, scope, obj, columns, bool(m.group("gopt")))

    # -- enforcement (AuthorizationChecker.java:125-145) -------------------
    @staticmethod
    def _qualify(spark, name: str) -> tuple[str, str]:
        """(db, table) of a table name, a bare one in the current db."""
        db, _, table = name.lower().rpartition(".")
        return db or spark.catalog.currentDatabase().lower(), table

    def check_access(self, spark, q: str, kind: str,
                     tables: list[str], target: str | None = None) -> None:
        """Raise AuthorizationError unless the current user's roles grant
        the statement's required privileges over the tables it reads.
        No-op when disabled. A grant covers a table in its own database
        only: TABLE grants compare database and name, DATABASE grants the
        table's database."""
        if not self.server_name:
            return
        privs: list[_Priv] = []
        for r in self._roles_of(self.user):
            privs.extend(self.role_privs.get(r, ()))

        def has(levels: tuple[str, ...], table: str) -> bool:
            held = [p for p in privs if p.priv in levels or p.priv == "ALL"]
            if any(p.scope == "SERVER" for p in held):
                return True
            db, name = self._qualify(spark, table)
            for p in held:
                if p.scope == "DATABASE" and p.obj.lower() == db:
                    return True
                if p.scope == "TABLE" and p.obj.lower() == f"{db}.{name}" and (
                    not p.columns
                    or self._columns_covered(spark, q, name, p.columns)
                ):
                    return True
            return False

        def deny(priv: str, table: str) -> AuthorizationError:
            return AuthorizationError(
                f"User '{self.user}' does not have privileges to execute"
                f" '{priv}' on: {'.'.join(self._qualify(spark, table))}"
            )

        if kind == "SELECT":
            for t in tables:
                if not has(("SELECT",), t):
                    raise deny("SELECT", t)
            return
        if kind in ("INSERT", "UPSERT", "UPDATE", "DELETE", "TRUNCATE",
                    "COMPUTE STATS"):
            assert target is not None
            # INSERT on an insert target, ALL (only) on anything modified
            levels = ("INSERT",) if kind in ("INSERT", "UPSERT") else ()
            if not has(levels, target):
                raise deny(levels[0] if levels else kind, target)
            # ...and SELECT on every other table the statement reads
            for t in tables:
                if t.lower() != target.lower() and not has(("SELECT",), t):
                    raise deny("SELECT", t)
            return
        if kind in ("CREATE", "DROP"):
            # database-or-server scope ALL (AuthorizeableDb)
            for p in privs:
                if p.priv == "ALL" and p.scope in ("SERVER", "DATABASE"):
                    return
            raise AuthorizationError(
                f"User '{self.user}' does not have privileges to"
                f" execute '{kind}' on: default"
            )

    def visible_table(self, spark, table: str,
                      include_column_privs: bool = True) -> bool:
        """Non-raising ANY-privilege check. Column-level grants make a
        table VISIBLE in listings (SHOW TABLES / GetTables,
        T/analysis/AuthorizationTest.java TestShowTableResultsFiltered)
        but do NOT authorize the table-level metadata surfaces (SHOW
        PARTITIONS/STATS/FILES/CREATE TABLE error with column-only
        grants — TestShowPermissions "User only has column-level
        privileges"); the flag selects which predicate."""
        if not self.server_name:
            return True
        privs = [p for r in self._roles_of(self.user)
                 for p in self.role_privs.get(r, ())]
        if any(p.scope == "SERVER" for p in privs):
            return True
        db, name = self._qualify(spark, table)
        return any(
            p.scope == "DATABASE" and p.obj.lower() == db
            or p.scope == "TABLE" and p.obj.lower() == f"{db}.{name}"
            and (include_column_privs or not p.columns)
            for p in privs
        )

    def visible_db(self, spark, db: str) -> bool:
        """SHOW DATABASES / GetSchemas filtering: a database is listed
        when the user holds ANY privilege on it, on the server, or on
        any object inside it (TestShowDbResultsFiltered)."""
        if not self.server_name:
            return True
        db_l = db.lower()
        for r in self._roles_of(self.user):
            for p in self.role_privs.get(r, ()):
                if p.scope == "SERVER":
                    return True
                if p.scope == "DATABASE" and p.obj.lower() == db_l:
                    return True
                if p.scope == "TABLE" and p.obj.split(".")[0].lower() == db_l:
                    return True
        return False

    def holds_server(self, *levels: str) -> bool:
        """True when the user holds a server-scope privilege at one of
        `levels` or ALL (at any level when none is given)."""
        return any(
            p.scope == "SERVER" and (not levels or p.priv in levels or p.priv == "ALL")
            for r in self._roles_of(self.user)
            for p in self.role_privs.get(r, ())
        )

    def check_create_drop_functions(self) -> None:
        """CREATE/DROP FUNCTION requires server-scope ALL
        (AuthorizationTest.TestFunction exact text — only the admin role
        may manage functions)."""
        if self.server_name and not self.holds_server("ALL"):
            raise AuthorizationError(
                f"User '{self.user}' does not have privileges to "
                "CREATE/DROP functions."
            )

    def check_any_access(self, spark, table: str,
                         allow_column_privs: bool = False) -> None:
        """Metadata surfaces: ANY privilege on the object
        (AuthorizationChecker — Privilege.ANY). Plain DESCRIBE accepts
        column-level grants (TestDescribe: "User has column level
        privileges" AuthzOk); SHOW PARTITIONS/STATS/FILES/CREATE TABLE
        and DESCRIBE FORMATTED require table scope or higher."""
        if not self.server_name:
            return
        if self.visible_table(
            spark, table, include_column_privs=allow_column_privs
        ):
            return
        raise AuthorizationError(
            f"User '{self.user}' does not have privileges to access:"
            f" {'.'.join(self._qualify(spark, table))}"
        )

    def check_uri_access(self, uri: str) -> None:
        """LOAD DATA's URI leg: the reference requires ALL on the URI or
        a PREFIX of it (AuthorizeableUri.java — Sentry authorizes by URI
        prefix). Server-scope ALL also covers it."""
        if not self.server_name:
            return
        def _norm(u: str) -> str:
            # scheme-insensitive local form: 'file:///x' == '/x' (the
            # sandbox filesystem is local; HDFS URIs compare verbatim)
            u = u.rstrip("/")
            return u[len("file://"):] if u.startswith("file://") else u

        norm = _norm(uri)
        for r in self._roles_of(self.user):
            for p in self.role_privs.get(r, ()):
                if p.priv != "ALL":
                    continue
                if p.scope == "SERVER":
                    return
                if p.scope == "URI" and (
                    norm == _norm(p.obj)
                    or norm.startswith(_norm(p.obj) + "/")
                ):
                    return
        raise AuthorizationError(
            f"User '{self.user}' does not have privileges to access:"
            f" {uri}"
        )

    def _columns_covered(self, spark, q: str, table: str,
                         granted: tuple[str, ...]) -> bool:
        """Conservative column-level check: every identifier in the
        statement that names a column of `table` must be granted. An
        alias colliding with an ungranted column denies (never allows
        an ungranted column through)."""
        try:
            actual = {c.lower() for c in spark.table(table).columns}
        except Exception:
            return False
        # string literals can't reference columns — strip them so a
        # literal like 'see l_extendedprice' doesn't spuriously deny
        stripped = re.sub(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"", " ", q)
        used = {
            w.lower() for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped)
        } & actual
        return used <= {c.lower() for c in granted}


def _status(spark, text: str):
    return spark.createDataFrame([(text,)], "result: string")


def _rows(spark, schema: str, rows: list):
    if rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame([], schema)
