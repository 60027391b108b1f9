"""Schema registry with DDL replay — the Spark re-expression of the
reference's "active schema" design.

Reference: ActiveSchemaManager (augmenter/ActiveSchemaManager.java:
202-231,239-264) maintains a shadow MySQL database and *executes each
DDL against it*, snapshotting the schema before and after
(AugmenterContext.updateSchema:636-703); the snapshots ride on the DDL
event (SchemaSnapshot/SchemaTransitionSequence) and land in a
schema-history table (HBaseApplier.doSchemaLog:296-308).

Spark has no shadow DB to replay DDL against, so this module is the
DDL-effect interpreter SURVEY §7 calls the one genuinely custom
component: it applies CREATE/ALTER/DROP/RENAME/TRUNCATE effects to a
versioned {table → persistent column chain} registry (StructType
materialized on demand) and appends a schema-history row per DDL. DDL
volume is tiny (human-scale), so the replay is driver-side and
sequential by design — per-event decode at scale reads the *broadcast*
registry version pinned to its batch.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drive import epoch_sink

# MySQL type name → Spark type (subset of schema/DataType.java:7-59,
# mapped per the decode rules of SURVEY §1.2).
MYSQL_TO_SPARK = {
    "tinyint": T.IntegerType(),
    "smallint": T.IntegerType(),
    "mediumint": T.IntegerType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "decimal": T.DecimalType(27, 9),
    "char": T.StringType(),
    "varchar": T.StringType(),
    "text": T.StringType(),
    "tinytext": T.StringType(),
    "mediumtext": T.StringType(),
    "longtext": T.StringType(),
    "blob": T.BinaryType(),
    "binary": T.BinaryType(),
    "varbinary": T.BinaryType(),
    "json": T.StringType(),
    "enum": T.StringType(),
    "set": T.StringType(),
    "bit": T.StringType(),
    "date": T.DateType(),
    "time": T.StringType(),
    "datetime": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "year": T.IntegerType(),
}

_R_CREATE_HEAD = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?`?(\w+)`?\s*\(",
    re.I,
)


def _match_create(stmt: str):
    """CREATE TABLE name ( cols... ) [table options] → (name, cols)
    or None. The column list ends at the BALANCED close paren (column
    defs nest parens — DECIMAL(10,2), ENUM('a','b') — and quoted
    defaults may contain either), and real binlog DDL almost always
    carries trailing options (ENGINE=, DEFAULT CHARSET=, COMMENT=,
    PARTITION BY ...): the previous $-anchored regex rejected those
    statements entirely, silently never registering the table."""
    m = _R_CREATE_HEAD.match(stmt)
    if not m:
        return None
    depth, i, n = 1, m.end(), len(stmt)
    start = m.end()
    quote = None
    while i < n:
        c = stmt[i]
        if quote:
            if c == quote:
                quote = None
        elif c in ("'", '"'):
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return m.group(1), stmt[start:i]
        i += 1
    return None  # unbalanced parens: not a well-formed CREATE
# CREATE TABLE t LIKE src — the reference's own DDL fixture uses this
# for the online-schema-change shadow copy (activeschema.test.sql:
# "CREATE TABLE test1_new LIKE test1" before the swap RENAME)
_R_CREATE_LIKE = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?`?(\w+)`?\s+"
    r"like\s+`?(\w+)`?\s*$",
    re.I,
)
# leading /* ... */ comment — the fixtures prefix DDL with them
# ("/* test ? */ RENAME TABLE ..."), and MySQL ignores them
_R_LEAD_COMMENT = re.compile(r"^\s*/\*.*?\*/\s*", re.S)
_R_DROP = re.compile(
    r"^\s*drop\s+table\s+(?:if\s+exists\s+)?`?(\w+)`?", re.I
)
_R_RENAME = re.compile(
    r"^\s*rename\s+table\s+(.*)$", re.I | re.S
)
# each side may carry a schema qualifier (RENAME TABLE a TO otherdb.b)
# — the registry is single-database, so the qualifier is ignored and
# the TABLE part captured (the old \w+ pattern stopped at the dot and
# captured the SCHEMA as the new name, corrupting the namespace)
_R_RENAME_PAIR = re.compile(
    r"(?:`?\w+`?\s*\.\s*)?`?(\w+)`?\s+to\s+(?:`?\w+`?\s*\.\s*)?`?(\w+)`?",
    re.I,
)
_R_ALTER = re.compile(r"^\s*alter\s+table\s+`?(\w+)`?\s+(.*)$", re.I | re.S)
_R_ADD_COL = re.compile(
    r"^add\s+(column\s+)?(`?)(\w+)`?\s+(\w+)", re.I
)
_R_DROP_COL = re.compile(r"^drop\s+(?:column\s+)?`?(\w+)`?", re.I)
_R_MODIFY_COL = re.compile(r"^modify\s+(?:column\s+)?`?(\w+)`?\s+(\w+)", re.I)
_R_CHANGE_COL = re.compile(
    r"^change\s+(?:column\s+)?`?(\w+)`?\s+`?(\w+)`?\s+(\w+)", re.I
)
# ALTER TABLE ... RENAME [TO|AS] new_table  (a table-rename expressed as
# an ALTER clause — the reference replays it against real MySQL, so the
# registry must honor it too; must not shadow RENAME COLUMN below)
_R_ALTER_RENAME_TO = re.compile(
    r"^rename\s+(?:to\s+|as\s+)?`?(\w+)`?\s*$", re.I
)
# MySQL 8 ALTER TABLE ... RENAME COLUMN old TO new (rename w/o retype)
_R_RENAME_COL = re.compile(
    r"^rename\s+column\s+`?(\w+)`?\s+to\s+`?(\w+)`?\s*$", re.I
)
# trailing column-position clause: ... FIRST | ... AFTER `col` — affects
# the ordinal column order the reference's computeTableSchema returns
# (ActiveSchemaHelpers.computeTableSchema:24-105 orders by
# ORDINAL_POSITION, which MySQL itself assigns from these clauses)
_R_POSITION = re.compile(
    r"\s+(first|after\s+`?(\w+)`?)\s*$", re.I
)
_R_TRUNCATE = re.compile(r"^\s*truncate\s+table\s+`?(\w+)`?", re.I)
# active-schema db-name rewrite (ActiveSchemaHelpers.java:150-171):
# strip `db.` / `` `db`. `` / leading `USE db;` so DDL applies locally.
_R_USE_PREFIX = re.compile(r"^\s*use\s+`?\w+`?\s*;\s*", re.I)


def rewrite_active_schema_name(sql: str, db: str) -> str:
    """Strip the database qualifier so the DDL applies to the registry's
    (single-database) namespace — ActiveSchemaHelpers.java:150-171.
    The qualifier must start at an identifier boundary: without the
    lookbehind, db='db' inside 'mydb.t' deleted the 'db.' suffix and
    fused the identifier into a different table name ('myt')."""
    sql = _R_USE_PREFIX.sub("", sql)
    sql = re.sub(rf"(?<![\w`]){'`?'}{re.escape(db)}`?\s*\.\s*", "", sql)
    return sql


def _parse_type(type_name: str) -> T.DataType:
    return MYSQL_TO_SPARK.get(type_name.lower(), T.StringType())


# A table schema is a PERSISTENT column chain: None (empty) or a cons
# cell ((name, DataType), parent_chain). Appending a column is O(1) and
# never mutates the parent, so any chain reference is a free immutable
# snapshot with structural sharing (the git-DAG trick). This matters
# because DDL replay history keeps a before/after snapshot PER
# STATEMENT: with copy-on-alter tuples the replay was O(cols) per ADD
# COLUMN (the round-10 scale smoke measured 43× at 10× DDL volume, and
# the jsonValue()-everything version before it hung outright at 125×+);
# with chains an ADD-dominated stream replays in O(statements).
# DROP/MODIFY/CHANGE rebuild the chain — O(cols), rare by nature.


def _chain_pairs(chain) -> list:
    """Materialize a column chain to its (name, type) pairs, in
    declaration order."""
    out = []
    while chain is not None:
        out.append(chain[0])
        chain = chain[1]
    out.reverse()
    return out


def _pairs_chain(pairs):
    chain = None
    for p in pairs:
        chain = (p, chain)
    return chain


# sentinel: positional insert whose AFTER-anchor column does not exist
# (MySQL rejects the whole clause; the caller skips it)
_MISSING_ANCHOR = object()


def _insert_positioned(chain, pair, where):
    """Insert (name, type) at the ordinal position a FIRST / AFTER `col`
    clause dictates (ActiveSchemaHelpers.computeTableSchema:24-105
    returns columns in MySQL's ORDINAL_POSITION order, which these
    clauses reassign). O(cols) rebuild — the rare path; plain ADD stays
    the O(1) cons."""
    pairs = _chain_pairs(chain)
    if where[0] == "first":
        pairs.insert(0, pair)
        return _pairs_chain(pairs)
    anchor = where[1]
    for i, (fn, _ft) in enumerate(pairs):
        if fn == anchor:
            pairs.insert(i + 1, pair)
            return _pairs_chain(pairs)
    return _MISSING_ANCHOR


def _reposition(pairs, name, where):
    """Apply an optional FIRST / AFTER position to an already-updated
    pairs list (MODIFY/CHANGE move the column as well as retyping it).
    A missing AFTER-anchor leaves the order unchanged (clause-skip
    semantics handled by the caller's type update already applied —
    MySQL would reject; order-preserving is the safe approximation)."""
    if where is None:
        return _pairs_chain(pairs)
    moved = [p for p in pairs if p[0] == name]
    rest = [p for p in pairs if p[0] != name]
    if not moved:
        return _pairs_chain(pairs)
    if where[0] == "first":
        return _pairs_chain(moved + rest)
    anchor = where[1]
    for i, (fn, _ft) in enumerate(rest):
        if fn == anchor:
            return _pairs_chain(rest[: i + 1] + moved + rest[i + 1 :])
    return _pairs_chain(pairs)


@dataclass
class SchemaRegistry:
    """Versioned table-schema registry with DDL replay + history.

    `tables` maps table → persistent column chain (see _chain_pairs);
    `_names` carries each table's CURRENT column-name set for the O(1)
    duplicate-ADD check (mutable — only the chains are snapshots)."""

    tables: dict[str, tuple] = field(default_factory=dict)
    history: list[dict] = field(default_factory=list)
    version: int = 0
    _names: dict[str, set] = field(default_factory=dict)

    def get(self, table: str) -> Optional[T.StructType]:
        key = table.lower()
        if key not in self.tables:
            return None
        # a present-but-empty table's chain is None — containment, not
        # the chain value, is what distinguishes absent from empty
        return T.StructType(
            [T.StructField(n, t) for n, t in _chain_pairs(self.tables[key])]
        )

    def n_columns(self, table: str) -> int:
        return len(self._names.get(table.lower(), ()))

    def apply_ddl(self, sql: str, db: str = "") -> dict:
        """Replay one DDL statement; returns the history row with
        before/after snapshots of the AFFECTED table —
        AugmenterContext.updateSchema's SchemaSnapshot analog. The
        snapshots are chain references: O(1) to take, immutable by
        construction."""
        if db:
            sql = rewrite_active_schema_name(sql, db)
        stmt = sql.strip().rstrip(";")
        while True:  # strip leading /* ... */ comments before dispatch
            stripped = _R_LEAD_COMMENT.sub("", stmt, count=1)
            if stripped == stmt:
                break
            stmt = stripped
        before_tables = dict(self.tables)  # shallow: refs only
        kind, table, before_key, after_key = self._dispatch(stmt)
        self.version += 1
        row = {
            "version": self.version,
            "kind": kind,
            "table": table,
            "sql": sql,
            # snapshot keys differ from the label only for renames,
            # where `table` is the 'old->new' audit string: the before
            # snapshot is the OLD table's chain and the after snapshot
            # the NEW table's, so avro_compat sees the real transition
            "before_schema": before_tables.get(before_key),
            "after_schema": self.tables.get(after_key),
            "n_tables_after": len(self.tables),
        }
        self.history.append(row)
        return row

    def _dispatch(self, stmt: str) -> tuple[str, str, str, str]:
        m = _R_CREATE_LIKE.match(stmt)
        if m:
            table, src = m.group(1).lower(), m.group(2).lower()
            if src not in self._names:
                # MySQL errors when the LIKE source is missing
                return "CREATE_UNKNOWN_SOURCE", table, table, table
            # chains are immutable, so the copy is a free shared ref;
            # the name set is mutable per table and must be duplicated
            self.tables[table] = self.tables[src]
            self._names[table] = set(self._names[src])
            return "CREATE_TABLE", table, table, table
        cm_create = _match_create(stmt)
        if cm_create:
            table, cols_src = cm_create[0].lower(), cm_create[1]
            fields = []
            for coldef in self._split_cols(cols_src):
                cm = re.match(r"^\s*(`?)(\w+)`?\s+(\w+)", coldef)
                # a BACKTICKED name is always a column, even when it
                # collides with a constraint keyword (`key`, `index`)
                if cm and (
                    cm.group(1) == "`"
                    or cm.group(2).lower() not in (
                        "primary", "unique", "key", "index",
                        "constraint", "foreign", "fulltext", "spatial",
                    )
                ):
                    fields.append(
                        (cm.group(2).lower(), _parse_type(cm.group(3)))
                    )
            self.tables[table] = _pairs_chain(fields)
            self._names[table] = {n for n, _ in fields}
            return "CREATE_TABLE", table, table, table
        m = _R_DROP.match(stmt)
        if m:
            table = m.group(1).lower()
            self.tables.pop(table, None)
            self._names.pop(table, None)
            return "DROP_TABLE", table, table, table
        m = _R_TRUNCATE.match(stmt)
        if m:
            table = m.group(1).lower()
            return "TRUNCATE_TABLE", table, table, table
        m = _R_RENAME.match(stmt)
        if m:
            # multi-pair RENAME is atomic in MySQL: the pairs apply
            # LEFT TO RIGHT (the online-schema-change swap of FIXTURES
            # F3 works because each pair frees its name before the next
            # takes it), and if ANY step's source is missing or target
            # occupied, the WHOLE statement errors and nothing moves —
            # silently clobbering the target's schema would corrupt
            # every later decode against it.
            pairs = [
                (o.lower(), n.lower())
                for o, n in _R_RENAME_PAIR.findall(m.group(1))
            ]
            label = ",".join(f"{o}->{n}" for o, n in pairs)
            work_t = dict(self.tables)
            work_n = dict(self._names)
            ok = bool(pairs)
            for old, new in pairs:
                # the target-exists check runs BEFORE the source is
                # freed, so a self-rename (a TO a) is rejected exactly
                # as MySQL's ER_TABLE_EXISTS_ERROR rejects it
                if old not in work_n or new in work_n:
                    ok = False
                    break
                work_t[new] = work_t.pop(old)
                work_n[new] = work_n.pop(old)
            if not ok:
                return "RENAME_REJECTED", label, label, label
            self.tables = work_t
            self._names = work_n
            # snapshot the FIRST pair's transition (old chain → new
            # chain); a multi-pair swap's other pairs stay auditable
            # through the label
            return "RENAME_TABLE", label, pairs[0][0], pairs[0][1]
        m = _R_ALTER.match(stmt)
        if m:
            orig, rest = m.group(1).lower(), m.group(2)
            if orig not in self._names:
                return "ALTER_UNKNOWN_TABLE", orig, orig, orig
            table = orig  # RENAME TO clauses retarget mid-statement
            chain = self.tables[table]
            names = self._names[table]
            for clause in self._split_cols(rest):
                clause = clause.strip()
                # peel a trailing FIRST / AFTER `col` position clause —
                # only on the clause kinds that can legally carry one
                # (ADD/MODIFY/CHANGE); FIRST is not reserved in MySQL,
                # so a column named `first` at the end of a DROP or
                # RENAME COLUMN clause must not be eaten as a position
                where = None
                pm = _R_POSITION.search(clause)
                if pm and re.match(r"^(add|modify|change)\b", clause, re.I):
                    where = (
                        ("first", None)
                        if pm.group(1).lower() == "first"
                        else ("after", pm.group(2).lower())
                    )
                    clause = clause[: pm.start()]
                am = _R_ADD_COL.match(clause)
                if am:
                    name, typ = am.group(3).lower(), am.group(4)
                    if (
                        not am.group(1)  # no explicit COLUMN keyword
                        and am.group(2) != "`"  # and not backticked
                        and name in (
                            "index", "key", "constraint", "unique",
                            "fulltext", "spatial", "primary", "foreign",
                        )
                    ):
                        continue  # ADD INDEX/KEY/... is not a column
                    if name in names:
                        continue  # MySQL rejects duplicate column names
                    if where is None:
                        # the hot path: O(1) cons + set probe
                        chain = ((name, _parse_type(typ)), chain)
                    else:
                        chain = _insert_positioned(
                            chain, (name, _parse_type(typ)), where
                        )
                        if chain is _MISSING_ANCHOR:
                            chain = self.tables[table]
                            continue  # AFTER a missing column: rejected
                    names.add(name)
                    self.tables[table] = chain
                    continue
                dm = _R_DROP_COL.match(clause)
                if dm:
                    name = dm.group(1).lower()
                    if name in (
                        "index", "key", "primary", "foreign",
                        "constraint", "check", "partition",
                    ) and not re.match(
                        r"^drop\s+(?:column\b|`)", clause, re.I
                    ):
                        # DROP INDEX/KEY/PRIMARY KEY/... drops a
                        # constraint, not a column; only the explicit
                        # DROP COLUMN form (or a backticked name)
                        # targets a column sharing the keyword's name
                        continue
                    chain = _pairs_chain(
                        [p for p in _chain_pairs(chain) if p[0] != name]
                    )
                    names.discard(name)
                    self.tables[table] = chain
                    continue
                rm = _R_RENAME_COL.match(clause)
                if rm:
                    old, new = rm.group(1).lower(), rm.group(2).lower()
                    if old not in names or (new != old and new in names):
                        continue  # missing source / duplicate target
                    chain = _pairs_chain(
                        [
                            (new, ft) if fn == old else (fn, ft)
                            for fn, ft in _chain_pairs(chain)
                        ]
                    )
                    names.discard(old)
                    names.add(new)
                    self.tables[table] = chain
                    continue
                tm = _R_ALTER_RENAME_TO.match(clause)
                if tm:
                    new_table = tm.group(1).lower()
                    if new_table in self._names:
                        # target exists (incl. a self-rename): MySQL's
                        # ER_TABLE_EXISTS_ERROR rejects the clause
                        continue
                    self.tables.pop(table, None)
                    self._names.pop(table, None)
                    table = new_table
                    self.tables[table] = chain
                    self._names[table] = names
                    continue
                mm = _R_MODIFY_COL.match(clause)
                if mm:
                    name, typ = mm.group(1).lower(), mm.group(2)
                    if name not in names:
                        continue
                    pairs = [
                        (name, _parse_type(typ)) if fn == name else (fn, ft)
                        for fn, ft in _chain_pairs(chain)
                    ]
                    chain = _reposition(pairs, name, where)
                    self.tables[table] = chain
                    continue
                cm = _R_CHANGE_COL.match(clause)
                if cm:
                    old, new, typ = (
                        cm.group(1).lower(),
                        cm.group(2).lower(),
                        cm.group(3),
                    )
                    if old not in names or (new != old and new in names):
                        # renaming onto an existing column would desync
                        # the chain from the name set — MySQL rejects it
                        continue
                    pairs = [
                        (new, _parse_type(typ)) if fn == old else (fn, ft)
                        for fn, ft in _chain_pairs(chain)
                    ]
                    chain = _reposition(pairs, new, where)
                    names.discard(old)
                    names.add(new)
                    self.tables[table] = chain
                    continue
            if table == orig:
                self.tables[table] = chain
                return "ALTER_TABLE", table, table, table
            # renamed mid-ALTER: snapshot old chain → new chain
            return "ALTER_TABLE", f"{orig}->{table}", orig, table
        return "UNKNOWN", "", "", ""

    @staticmethod
    def _split_cols(src: str) -> list[str]:
        """Split column definitions on top-level commas."""
        out, depth, cur = [], 0, []
        for ch in src:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur:
            out.append("".join(cur))
        return out

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The schema-history table (append-only, one row per DDL)."""
        rows = [
            (
                h["version"],
                h["kind"],
                h["table"],
                h["sql"],
                h["n_tables_after"],
            )
            for h in self.history
        ]
        return spark.createDataFrame(
            rows, "version int, kind string, table_ref string, sql string, n_tables_after int"
        )


def ddl_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the synthesized DDL stream from the QUERY events through
    the registry; emit per-table column counts after replay.

    QUERY events with user_id%5==2 carry 'ALTER TABLE <t> ADD COLUMN
    c<event_id> INT' (distinct column per event — see classify.py), so
    the post-replay column count per table is 2 (value, props) + the
    number of such events — which the SQL oracle states declaratively.
    """
    from ..cdc.envelope import change_feed
    from ..session import prep

    prep(spark)
    feed = change_feed(spark, sf_dir)
    ddls = (
        feed.where((feed.op == "QUERY") & (feed.user_id % 5 == 2))
        .select("event_id", "table_name")
        .orderBy("event_id")
        .collect()  # DDL stream is tiny by nature; replay is sequential
    )
    reg = SchemaRegistry()
    seen_tables = set()
    for r in ddls:
        t = r["table_name"].lower()
        if t not in seen_tables:
            reg.apply_ddl(
                f"CREATE TABLE {t} (user_id bigint, value double, props json)"
            )
            seen_tables.add(t)
        reg.apply_ddl(
            f"ALTER TABLE {t} ADD COLUMN c{r['event_id']} int"
        )
    rows = [
        (t, reg.n_columns(t)) for t in sorted(reg.tables)
    ]
    return spark.createDataFrame(rows, "table_name string, n_columns int")


from ..cdc.envelope import CHANGE_FEED_SQL  # noqa: E402

DDL_REPLAY_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT lower(table_name) AS table_name,
       3 + COUNT(*) AS n_columns
FROM feed
WHERE op = 'QUERY' AND user_id % 5 = 2
GROUP BY lower(table_name)
"""

def schema_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-only schema-history log after replaying the DDL
    stream — the Spark analog of the HBase `<db>_schema_history` side
    table (HBaseApplier.doSchemaLog:296-308, HBaseSchemaManager.
    writeSchemaSnapshot): one row per DDL with its position (version),
    classification, target table, SQL, and the post-DDL table count.
    """
    from ..cdc.envelope import change_feed
    from ..session import prep

    prep(spark)
    feed = change_feed(spark, sf_dir)
    ddls = (
        feed.where((feed.op == "QUERY") & (feed.user_id % 5 == 2))
        .select("event_id", "table_name")
        .orderBy("event_id")
        .collect()  # DDL stream is human-scale; replay is sequential
    )
    reg = SchemaRegistry()
    seen = set()
    for r in ddls:
        t = r["table_name"].lower()
        if t not in seen:
            reg.apply_ddl(
                f"CREATE TABLE {t} (user_id bigint, value double, props json)"
            )
            seen.add(t)
        reg.apply_ddl(f"ALTER TABLE {t} ADD COLUMN c{r['event_id']} int")
    rows = [
        (
            h["version"],
            h["kind"],
            h["table"],
            h["sql"],
            h["n_tables_after"],
        )
        for h in reg.history
    ]
    return spark.createDataFrame(
        rows,
        "version long, kind string, table_ref string, sql string,"
        " n_tables_after long",
    )


SCHEMA_HISTORY_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL}),
ddls AS (
    SELECT event_id, lower(table_name) AS t,
        ROW_NUMBER() OVER (
            PARTITION BY lower(table_name) ORDER BY event_id
        ) AS rn
    FROM feed WHERE op = 'QUERY' AND user_id % 5 = 2
),
rows0 AS (
    SELECT event_id, 0 AS sub, 'CREATE_TABLE' AS kind, t,
        'CREATE TABLE ' || t
        || ' (user_id bigint, value double, props json)' AS sql
    FROM ddls WHERE rn = 1
    UNION ALL
    SELECT event_id, 1 AS sub, 'ALTER_TABLE' AS kind, t,
        'ALTER TABLE ' || t || ' ADD COLUMN c'
        || CAST(event_id AS VARCHAR) || ' int' AS sql
    FROM ddls
),
firsts AS (SELECT t, MIN(event_id) AS fe FROM ddls GROUP BY t)
SELECT ROW_NUMBER() OVER (ORDER BY event_id, sub) AS version,
    kind, t AS table_ref, sql,
    (SELECT COUNT(*) FROM firsts WHERE fe <= rows0.event_id)
        AS n_tables_after
FROM rows0
"""

def avro_compat(before, after) -> str:
    """Schema-compatibility verdict between two column-chain snapshots
    of one table (KafkaApplier.handleIncompatibleSchemaChange:261-287 —
    an incompatible change deletes the registry subject and forces
    re-registration).

    Backward-compatible: every old field still exists with the same
    type (new nullable fields may be added). Dropped fields or type
    changes are incompatible.

    Fast path from structural sharing: ADD COLUMN conses onto the old
    chain, so if walking `after`'s parents reaches the `before` CELL
    (identity), the change is pure additions ⇒ COMPATIBLE in O(delta)
    without materializing either snapshot. A rebuild (DROP/MODIFY/
    CHANGE) breaks the ancestry and falls through to the full dict
    comparison — this is what keeps the per-DDL compat audit linear
    over an ADD-dominated stream.
    """
    if before is None:
        return "COMPATIBLE"  # first registration
    node = after
    while node is not None:
        if node is before:
            return "COMPATIBLE"  # before is an ancestor: additions only
        node = node[1]
    old = dict(_chain_pairs(before))
    new = dict(_chain_pairs(after))
    for name, typ in old.items():
        if name not in new:
            return "INCOMPATIBLE_FIELD_DROPPED"
        if new[name] != typ:
            return "INCOMPATIBLE_TYPE_CHANGED"
    return "COMPATIBLE"


def schema_compat_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table compat audit of the replayed DDL stream: every change
    is verdict-checked against the previous snapshot. The driver's DDL
    stream is append-only ADD COLUMNs, so the oracle can state the
    verdict tally declaratively; the incompatible branches are
    exercised by unit tests (DROP/MODIFY)."""
    from ..cdc.envelope import change_feed
    from ..session import prep

    prep(spark)
    feed = change_feed(spark, sf_dir)
    ddls = (
        feed.where((feed.op == "QUERY") & (feed.user_id % 5 == 2))
        .select("event_id", "table_name")
        .orderBy("event_id")
        .collect()
    )
    reg = SchemaRegistry()
    seen = set()
    tallies: dict[str, list] = {}
    for r in ddls:
        t = r["table_name"].lower()
        if t not in seen:
            reg.apply_ddl(
                f"CREATE TABLE {t} (user_id bigint, value double, props json)"
            )
            seen.add(t)
        row = reg.apply_ddl(
            f"ALTER TABLE {t} ADD COLUMN c{r['event_id']} int"
        )
        verdict = avro_compat(row["before_schema"], row["after_schema"])
        tally = tallies.setdefault(t, [0, 0])
        if verdict == "COMPATIBLE":
            tally[0] += 1
        else:
            tally[1] += 1
    rows = [
        (t, v[0], v[1]) for t, v in sorted(tallies.items())
    ]
    return spark.createDataFrame(
        rows, "table_name string, n_compatible long, n_incompatible long"
    )


SCHEMA_COMPAT_SQL = f"""
WITH feed AS ({CHANGE_FEED_SQL})
SELECT lower(table_name) AS table_name,
    COUNT(*) AS n_compatible,
    CAST(0 AS BIGINT) AS n_incompatible
FROM feed WHERE op = 'QUERY' AND user_id % 5 = 2
GROUP BY lower(table_name)
"""


def build_ddl_stream(stream: DataFrame) -> DataFrame:
    """The DDL subset of an events stream, derived map-side only (the
    envelope's window-based before-images are neither needed nor legal
    on a streaming DataFrame): op classification and the month-bucketed
    table name are both per-row expressions."""
    from ..cdc.envelope import OP_CASE_SQL

    return (
        stream.select(
            "event_id",
            F.expr("ts div 1000000").alias("ts_ms"),
            "user_id",
            "event_type",
        )
        .where(
            (F.expr(OP_CASE_SQL) == "QUERY") & (F.col("user_id") % 5 == 2)
        )
        .select(
            "event_id",
            F.concat(
                F.lit("users_"),
                F.date_format(F.timestamp_millis(F.col("ts_ms")), "yyyyMM"),
            ).alias("table_name"),
        )
    )


HISTORY_OUT_SCHEMA = (
    "version long, kind string, table_ref string, sql string,"
    " n_tables_after long"
)


def _fs_list(spark: SparkSession, path: str, child: str = "") -> Optional[list]:
    """Child names of `path[/child]` via the Hadoop FileSystem API, so
    the recovery path works for file://, hdfs:// and s3a:// locations
    alike (os.listdir on a non-local checkpoint would silently see
    nothing — the exact restart-at-version-1 corruption recovery must
    never produce). Returns None if the directory does not exist; any
    other failure propagates loudly."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if child:
        hpath = jvm.org.apache.hadoop.fs.Path(hpath, child)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    return [s.getPath().getName() for s in fs.listStatus(hpath)]


def _committed_epochs(spark: SparkSession, ckpt: str) -> set[int]:
    """Epoch ids the streaming checkpoint has COMMITTED (one file per
    epoch under `<ckpt>/commits`, named by the id). An epoch dir under
    `out` without a commit entry was written but not committed — Spark
    will re-run it after a kill, so recovery must NOT replay it."""
    names = _fs_list(spark, ckpt, "commits")
    if names is None:
        return set()
    return {int(f) for f in names if f.lstrip("-").isdigit()}


def _rebuild_registry(
    spark: SparkSession, out: str, ckpt: str
) -> "SchemaRegistry":
    """Reconstruct the active registry from the committed history —
    the ActiveSchemaManager recovery path (it replays the schema-history
    table into the shadow DB on restart). Replaying the recorded SQL
    in version order reproduces the exact chains AND the version
    counter, so a restarted stream continues numbering where the killed
    lifetime stopped.

    Only epochs present in the checkpoint's commits log are replayed: a
    crash between the epoch-dir write and the checkpoint commit leaves
    an orphan (possibly partial) `epoch=<id>` dir that Spark re-runs on
    restart — replaying it here would double-apply its ALTERs and skew
    the version counter (round-10 advisor finding). All committed epoch
    dirs are read in ONE multi-path Spark job (DDL history is tiny; the
    fixed per-job overhead, not the rows, is the cost). Read failures
    on a COMMITTED epoch propagate loudly: silently restarting at
    version 1 would corrupt the history."""
    reg = SchemaRegistry()
    committed = _committed_epochs(spark, ckpt)
    if not committed:
        return reg
    children = set(_fs_list(spark, out) or ())
    dirs = [
        f"{out}/epoch={eid}"
        for eid in sorted(committed)
        if f"epoch={eid}" in children  # committed epoch, rows written
    ]
    if not dirs:
        return reg
    rows = spark.read.parquet(*dirs).select("version", "sql").collect()
    for r in sorted(rows, key=lambda r: r["version"]):
        reg.apply_ddl(r["sql"])
    return reg


def run_ddl_replay_stream(
    spark: SparkSession, ddl_stream: DataFrame, out: str, ckpt: str
) -> "SchemaRegistry":
    """Drive ONE SchemaRegistry from a DDL stream via foreachBatch —
    the streaming twin of schema_ddl_replay, matching the reference's
    updateSchema ordering (AugmenterContext.updateSchema:636-703):
    each DDL is replayed in binlog (event_id) order, snapshot-before →
    apply → snapshot-after, with the registry version monotone ACROSS
    micro-batches (the active schema is one long-lived object, not a
    per-batch rebuild). DDL volume is human-scale, so the driver-side
    sequential replay inside foreachBatch is the documented contract
    shared with the batch twin; the event stream itself never leaves
    the executors — only the filtered DDL rows reach the driver.

    Restart/retry safety (the property test_restart_recovery pins for
    every stateful op): on a checkpoint resume the registry is REBUILT
    from the history of COMMITTED epochs only (see _rebuild_registry —
    an epoch dir written but not yet committed is re-run by Spark, so
    replaying it during recovery would double-apply its DDLs); each
    epoch's rows land in their own `epoch=<id>` dir with mode=overwrite
    (`drive.epoch_sink`) so an at-least-once foreachBatch retry
    overwrites rather than appends; and a retry within one lifetime
    (registry already mutated) re-emits the memoed rows instead of
    re-applying the DDLs with fresh version numbers.

    If the stream carries a `sql` column, each row's statement is
    replayed verbatim (in event_id order) — the path that exercises the
    reference's hardest DDL choreography, the multi-pair RENAME
    table-swap of mysql.binlog.test.sql (SURVEY §5.2) plus DROPs.
    Otherwise rows are (event_id, table_name) and the CREATE+ADD DDLs
    are synthesized as in the batch twin.
    """
    reg = _rebuild_registry(spark, out, ckpt)
    # tables ever CREATEd — recovery approximation is exact for the
    # synthesized append-only DDL feed (no DROP TABLE there; the
    # verbatim-sql path never consults it)
    seen: set[str] = set(reg.tables)
    verbatim = "sql" in ddl_stream.columns
    done: dict = {"epoch": None, "rows": None}

    def emit(h: dict, out_rows: list) -> None:
        out_rows.append(
            (
                h["version"], h["kind"], h["table"], h["sql"],
                h["n_tables_after"],
            )
        )

    def replay(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        if done["epoch"] == epoch_id:
            out_rows = done["rows"]  # in-lifetime retry: rows memoed
        else:
            cols = ["event_id", "sql"] if verbatim else [
                "event_id", "table_name"
            ]
            rows = batch_df.select(*cols).orderBy("event_id").collect()
            out_rows = []
            for r in rows:
                if verbatim:
                    emit(reg.apply_ddl(r["sql"]), out_rows)
                    continue
                t = r["table_name"].lower()
                if t not in seen:
                    emit(
                        reg.apply_ddl(
                            f"CREATE TABLE {t} "
                            "(user_id bigint, value double, props json)"
                        ),
                        out_rows,
                    )
                    seen.add(t)
                emit(
                    reg.apply_ddl(
                        f"ALTER TABLE {t} ADD COLUMN c{r['event_id']} int"
                    ),
                    out_rows,
                )
            done["epoch"], done["rows"] = epoch_id, out_rows
        return spark.createDataFrame(out_rows, HISTORY_OUT_SCHEMA)

    epoch_sink(ddl_stream, out, ckpt, replay)
    return reg


def stream_ddl_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-history log produced by the STREAMING replay — byte-
    identical to the batch schema_history_log (same oracle): testdata
    events are event_id-monotone in ts, so time-ordered micro-batches
    replay DDLs in the same global order the batch twin collects."""
    from ..session import read_table, scratch_dir

    base = scratch_dir("ddl_stream_")
    out = os.path.join(base, "out")
    run_ddl_replay_stream(
        spark,
        build_ddl_stream(read_table(spark, sf_dir, "events", stream=True)),
        out,
        os.path.join(base, "ckpt"),
    )
    # project away the epoch partition column the per-epoch dirs add
    return spark.read.parquet(out).select(
        "version", "kind", "table_ref", "sql", "n_tables_after"
    )


REGISTRY = [
    ("schema_ddl_replay", ddl_replay_query, DDL_REPLAY_SQL),
    ("schema_history_log", schema_history_query, SCHEMA_HISTORY_SQL),
    ("schema_compat_check", schema_compat_query, SCHEMA_COMPAT_SQL),
    ("stream_schema_ddl_replay", stream_ddl_replay_query, SCHEMA_HISTORY_SQL),
]
