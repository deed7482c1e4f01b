"""Parser for the EventFlux SQL dialect.

Grammar covered (reference sql_compiler/, test corpus tests/app_runner_*.rs):

- ``CREATE STREAM|TABLE Name (col TYPE, …) [WITH ('k'='v', …)];``
- ``INSERT INTO Target SELECT items FROM <source> [WHERE …] [GROUP BY …]
  [HAVING …] [ORDER BY …] [LIMIT n [OFFSET m]];``
- source forms:
  - ``Stream [WINDOW('type', arg, …)]``
  - ``L [WINDOW(...)] [INNER|LEFT OUTER|RIGHT OUTER|FULL OUTER] JOIN
    R [WINDOW(...)] ON cond [JOIN ...]`` — the reference allows exactly one
    join (converter.rs:531); chains compile left-associatively here
  - ``PATTERN (e1=A[f] -> e2=B[f] …) [WITHIN d]`` / ``SEQUENCE (…)``;
    2-element ``AND``/``OR`` groups; ``EVERY(…)`` prefix
- ``PARTITION WITH (key OF Stream, …) BEGIN …queries… END;``
  (reference tests/app_runner_partitions.rs:13)
- durations: ``<n> MILLISECONDS|SECONDS|MINUTES|HOURS`` (reference
  time_constants; SQL WINDOW TUMBLING/SLIDING/SESSION keywords also accepted)

Scalar expressions are NOT parsed here — they pass through verbatim to
Spark's SQL analyzer (``F.expr``), which is strictly more capable than the
reference's expression compiler.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# text utilities (paren/quote-aware)
# ---------------------------------------------------------------------------

def split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` (a char) at paren/quote depth 0."""
    out, buf, depth, quote = [], [], 0, None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        out.append("".join(buf))
    return [p.strip() for p in out if p.strip()]


def split_keyword(s: str, keyword: str) -> list[str]:
    """Split on a keyword (word-boundary, case-insensitive) at depth 0.
    Non-word keywords (e.g. ``->``) match literally without boundaries."""
    if re.match(r"^\w[\w ]*$", keyword):
        pat = re.compile(rf"\b{keyword}\b", re.IGNORECASE)
    else:
        pat = re.compile(re.escape(keyword))
    out, depth, quote, last, i = [], 0, None, 0, 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                out.append(s[last : i])
                last = m.end()
                i = m.end()
                continue
        i += 1
    out.append(s[last:])
    return [p.strip() for p in out]


def find_keyword(s: str, keyword: str) -> int:
    """Index of the first top-level occurrence of a keyword, or -1."""
    if re.match(r"^\w[\w ]*$", keyword):
        pat = re.compile(rf"\b{keyword}\b", re.IGNORECASE)
    else:
        pat = re.compile(re.escape(keyword))
    depth, quote, i = 0, None, 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                return i
        i += 1
    return -1


DURATION_UNITS = {
    "millisecond": 0.001, "milliseconds": 0.001, "ms": 0.001,
    "second": 1.0, "seconds": 1.0, "sec": 1.0,
    "minute": 60.0, "minutes": 60.0, "min": 60.0,
    "hour": 3600.0, "hours": 3600.0,
    "day": 86400.0, "days": 86400.0,
}


def parse_duration_seconds(text: str) -> float:
    """``100 MILLISECONDS`` / ``5 SECONDS`` / bare int (= milliseconds, the
    reference's bare-number convention) → seconds."""
    t = text.strip()
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([A-Za-z]+)?", t)
    if not m:
        raise ValueError(f"cannot parse duration: {text!r}")
    n = float(m.group(1))
    unit = (m.group(2) or "ms").lower()
    if unit not in DURATION_UNITS:
        raise ValueError(f"unknown duration unit in {text!r}")
    return n * DURATION_UNITS[unit]


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class CreateStream:
    name: str
    columns: list[tuple[str, str]]  # (name, sql_type)
    is_table: bool = False
    options: dict[str, str] = field(default_factory=dict)
    #: PRIMARY KEY columns (tables only): inserts stay key-unique, the
    #: newest event per key winning (reference DefineTableTestCase shape)
    primary_key: list[str] = field(default_factory=list)


@dataclass
class CreateTrigger:
    """``CREATE TRIGGER Name AT START | AT EVERY <n> <unit> | AT CRON
    '<expr>';`` — a timer-generated stream queryable as ``FROM Name``
    (reference sqlparser CreateStreamTrigger, consumed at
    sql_compiler/application.rs:21-35; run verbatim by
    tests/compatibility/triggers.rs:103-150). Tick rows carry
    ``(triggered_time TIMESTAMP, counter BIGINT)``."""

    name: str
    timing: str  # "start" | "every" | "cron"
    interval_ms: int | None = None  # timing == "every"
    cron: str | None = None  # timing == "cron"


@dataclass
class TableDml:
    """SQL table DML driven by a stream (reference
    tests/compatibility/tables.rs:155-206,375-388 — UpdateTableTestCase /
    DeleteFromTableTestCase / UpdateOrInsertTableTestCase shapes; the
    reference defines the syntax but #[ignore]s every test, like
    CREATE AGGREGATION):

    - ``UPDATE T SET c = expr, ... FROM S WHERE T.k = S.k``
    - ``DELETE FROM T FROM S WHERE <cond>``
    - ``UPDATE OR INSERT INTO T SELECT ... FROM S ON T.k = S.k``
    """

    kind: str  # "update" | "delete" | "upsert"
    table: str
    source: str
    cond: str
    set_items: list[tuple[str, str]] | None = None  # update
    select_items: list | None = None  # upsert (SelectItem list)


@dataclass
class CreateAggregation:
    """``CREATE AGGREGATION Name FROM Stream SELECT aggs GROUP BY cols
    AGGREGATE EVERY unit [... unit];`` — incremental multi-granularity
    rollup DDL. The reference defines the AST (aggregation_definition.rs,
    time_period.rs) but its SQL grammar never implemented it (every test is
    #[ignore]d "Requires DEFINE AGGREGATION", app_runner_aggregations.rs:15);
    this dialect makes the reference's own ignored test shapes runnable,
    backed by tables.IncrementalAggregation (the cascade each level
    re-aggregates from the level below)."""

    name: str
    source: str
    value_col: str
    select: list["SelectItem"]
    group_by: list[str]
    granularities: list[str]  # normalized date_trunc units, e.g. ["second"]


@dataclass
class WindowSpec:
    kind: str  # normalized lower-case: length, lengthbatch, time, timebatch,
    #            externaltime, externaltimebatch, session, sort, tumbling, sliding
    params: list[str] = field(default_factory=list)  # raw strings


@dataclass
class StreamRef:
    name: str
    alias: str | None = None
    window: WindowSpec | None = None


@dataclass
class AggregationRef:
    """``FROM Agg [WITHIN 'start' AND 'end'] PER 'granularity'`` — the
    on-demand read of a CREATE AGGREGATION cascade (reference
    aggregation_input_store.rs / query_aggregation within+per,
    eventflux_app_runtime.rs:982; its SQL grammar never shipped)."""

    name: str
    per: str
    within: tuple[str, str] | None = None


@dataclass
class JoinSource:
    left: StreamRef
    right: StreamRef
    join_type: str  # inner | left_outer | right_outer | full_outer
    on: str


@dataclass
class PatternElement:
    alias: str
    stream: str
    filter: str | None = None
    #: count quantifier `{m}` / `{m,n}` (reference PatternExpression::Count,
    #: converter.rs:1608-1645; zero-count A*/A?/A{0,n} rejected like the
    #: reference's pattern_validation.rs)
    min_count: int | None = None
    max_count: int | None = None


@dataclass
class PatternGroup:
    """AND/OR group (reference logical_pre_state_processor.rs). The
    reference pairs exactly two elements; ``rest`` carries extra OR
    branches for the n-ary chain (``e1=A OR e2=B OR e3=C``,
    patterns.rs:1246 — defined upstream but #[ignore]d as unsupported).
    n-ary AND stays rejected (all-of state over >2 streams is not in the
    reference's model either)."""

    op: str  # "and" | "or"
    first: PatternElement
    second: PatternElement
    rest: list = field(default_factory=list)  # extra OR branches (3rd+)


@dataclass
class AbsentElement:
    """`NOT Stream[filter] FOR d` (reference PatternExpression::Absent,
    converter.rs:1687-1727 → AbsentStreamStateElement)."""

    stream: str
    filter: str | None
    for_seconds: float


@dataclass
class PatternSource:
    steps: list  # PatternElement | PatternGroup, connected by '->'
    mode: str = "pattern"  # pattern | sequence
    within_seconds: float | None = None
    every: bool = False


@dataclass
class SelectItem:
    expr: str
    alias: str | None


@dataclass
class Query:
    select: list[SelectItem]
    source: object  # StreamRef | JoinSource | PatternSource
    where: str | None = None
    group_by: list[str] = field(default_factory=list)
    having: str | None = None
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (expr, desc)
    limit: int | None = None
    offset: int | None = None
    insert_into: str | None = None
    partition_key: str | None = None  # set by PARTITION WITH


@dataclass
class Partition:
    #: stream name → key column (value partition, partition_type.rs Value)
    #: or list[(label, condition_sql)] (range partition, Range variant:
    #: an event is processed in EVERY range whose condition it matches,
    #: and dropped when none matches)
    keys: dict[str, object]
    queries: list[Query] = field(default_factory=list)


# ---------------------------------------------------------------------------
# statement parsing
# ---------------------------------------------------------------------------

_BLOCK_END = re.compile(r"\bEND\s*$", re.IGNORECASE)


def parse_app(text: str) -> list:
    """Parse a full application (list of CreateStream / Query / Partition)."""
    text = re.sub(r"--[^\n]*", "", text)  # line comments
    out = []
    i = 0
    stmts = split_top_level(text, ";")
    idx = 0
    while idx < len(stmts):
        stmt = stmts[idx].strip()
        idx += 1
        if not stmt:
            continue
        up = stmt.upper()
        if up.startswith("CREATE AGGREGATION"):
            out.append(_parse_create_aggregation(stmt))
        elif up.startswith("CREATE TRIGGER"):
            out.append(_parse_create_trigger(stmt))
        elif (
            up.startswith("UPDATE OR INSERT INTO")
            or up.startswith("UPDATE ")
            or up.startswith("DELETE FROM")
        ):
            out.append(_parse_table_dml(stmt))
        elif up.startswith("CREATE STREAM") or up.startswith("CREATE TABLE"):
            out.append(_parse_create(stmt))
        elif up.startswith("PARTITION WITH") or up.startswith("PARTITION BY"):
            # re-assemble the BEGIN … END block (it contained ';') up to
            # the piece that ends in the word END — rejoined pieces read
            # `…;END`, so a whitespace-token test would swallow the blocks
            # that follow
            block = stmt
            while not _BLOCK_END.search(block) and idx < len(stmts):
                block += ";" + stmts[idx]
                idx += 1
            out.append(_parse_partition(block))
        elif up.startswith("INSERT INTO") or up.startswith("SELECT"):
            out.append(parse_query(stmt))
        else:
            raise ValueError(f"unsupported statement: {stmt[:60]!r}")
    del i
    return out


_TYPE_RE = r"[A-Za-z][A-Za-z0-9_]*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"


def _parse_create(stmt: str) -> CreateStream:
    m = re.match(
        r"CREATE\s+(STREAM|TABLE)\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*?)\)\s*"
        r"(?:WITH\s*\((.*)\))?\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse DDL: {stmt[:80]!r}")
    kind, name, cols_txt, with_txt = m.groups()
    cols = []
    pk: list[str] = []
    for c in split_top_level(cols_txt, ","):
        cm = re.match(
            rf"([A-Za-z_][A-Za-z0-9_]*)\s+({_TYPE_RE})"
            r"(\s+PRIMARY\s+KEY)?\s*$",
            c.strip(),
            re.IGNORECASE,
        )
        if not cm:
            raise ValueError(f"cannot parse column def {c!r} in {name}")
        cols.append((cm.group(1), cm.group(2).upper()))
        if cm.group(3):
            # reference DefineTableTestCase shape (tables.rs:232): a PK
            # column makes inserts key-unique, newest event winning
            if kind.upper() != "TABLE":
                raise ValueError(
                    f"PRIMARY KEY on stream {name}: only tables have keys"
                )
            pk.append(cm.group(1))
    options: dict[str, str] = {}
    if with_txt:
        # WITH ('type'='source', 'extension'='timer', …) — with_clause.rs:38-135
        for kv in split_top_level(with_txt, ","):
            km = re.match(r"'([^']*)'\s*=\s*'([^']*)'\s*$", kv.strip())
            if not km:
                raise ValueError(f"cannot parse WITH option {kv!r}")
            options[km.group(1)] = km.group(2)
    return CreateStream(
        name=name, columns=cols, is_table=kind.upper() == "TABLE",
        options=options, primary_key=pk,
    )


#: time_period.rs:8 unit spellings → date_trunc granularity (the reference
#: grammar planned sec…year; weeks are not in its Duration enum either)
_GRAN_ALIASES = {
    "sec": "second", "second": "second", "seconds": "second",
    "min": "minute", "minute": "minute", "minutes": "minute",
    "hour": "hour", "hours": "hour",
    "day": "day", "days": "day",
    "month": "month", "months": "month",
    "year": "year", "years": "year",
}
_GRAN_ORDER = ["second", "minute", "hour", "day", "month", "year"]


def _parse_create_trigger(stmt: str) -> CreateTrigger:
    """``CREATE TRIGGER Name AT START / AT EVERY n unit / AT CRON 'expr'``
    (reference tests/compatibility/triggers.rs:103-150 run these verbatim;
    sqlparser StreamTriggerTiming pre-computes interval_ms the same way —
    application.rs:29-32)."""
    m = re.match(
        r"CREATE\s+TRIGGER\s+([A-Za-z_][A-Za-z0-9_]*)\s+AT\s+(.+?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse CREATE TRIGGER: {stmt[:80]!r}")
    name, timing_txt = m.group(1), m.group(2).strip()
    up = timing_txt.upper()
    if up == "START":
        return CreateTrigger(name, "start")
    if up.startswith("EVERY"):
        secs = parse_duration_seconds(timing_txt[5:].strip())
        if secs <= 0:
            raise ValueError(f"CREATE TRIGGER {name}: non-positive interval")
        return CreateTrigger(name, "every", interval_ms=round(secs * 1000))
    cm = re.match(r"CRON\s+'([^']+)'\s*$", timing_txt, re.IGNORECASE)
    if cm:
        return CreateTrigger(name, "cron", cron=cm.group(1))
    raise ValueError(
        f"CREATE TRIGGER {name}: expected AT START, AT EVERY <n> <unit>, "
        f"or AT CRON '<expr>' — got {timing_txt[:40]!r}"
    )


def _parse_table_dml(stmt: str) -> TableDml:
    """The three stream-driven table DML statements (see TableDml)."""
    nm = r"[A-Za-z_][A-Za-z0-9_]*"
    m = re.match(
        rf"UPDATE\s+OR\s+INSERT\s+INTO\s+({nm})\s+SELECT\s+(.*?)\s+"
        rf"FROM\s+({nm})\s+ON\s+(.+?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        table, items_txt, source, cond = m.groups()
        items = []
        for item in split_top_level(items_txt, ","):
            am = re.match(r"(.*)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
            if am:
                items.append(SelectItem(expr=am.group(1).strip(), alias=am.group(2)))
            else:
                items.append(SelectItem(expr=item.strip(), alias=None))
        return TableDml("upsert", table, source, cond.strip(), select_items=items)
    m = re.match(
        rf"UPDATE\s+({nm})\s+SET\s+(.*?)\s+FROM\s+({nm})\s+WHERE\s+(.+?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        table, set_txt, source, cond = m.groups()
        sets = []
        for part in split_top_level(set_txt, ","):
            sm = re.match(r"(\w+)\s*=\s*(.+)$", part.strip(), re.DOTALL)
            if not sm:
                raise ValueError(f"cannot parse SET item {part!r}")
            sets.append((sm.group(1), sm.group(2).strip()))
        return TableDml("update", table, source, cond.strip(), set_items=sets)
    m = re.match(
        rf"DELETE\s+FROM\s+({nm})\s+FROM\s+({nm})\s+WHERE\s+(.+?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        table, source, cond = m.groups()
        return TableDml("delete", table, source, cond.strip())
    raise ValueError(f"cannot parse table DML: {stmt[:80]!r}")


def _parse_create_aggregation(stmt: str) -> CreateAggregation:
    m = re.match(
        r"CREATE\s+AGGREGATION\s+([A-Za-z_][A-Za-z0-9_]*)\s+"
        r"FROM\s+([A-Za-z_][A-Za-z0-9_]*)\s+SELECT\s+(.*?)\s+"
        r"(?:GROUP\s+BY\s+(.*?)\s+)?AGGREGATE\s+EVERY\s+(.*?)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse CREATE AGGREGATION: {stmt[:80]!r}")
    name, source, sel_txt, grp_txt, gran_txt = m.groups()
    select = []
    value_cols: set[str] = set()
    for item in split_top_level(sel_txt, ","):
        am = re.match(r"(.*?)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$", item,
                      re.IGNORECASE | re.DOTALL)
        expr, alias = am.group(1).strip(), am.group(2)
        select.append(SelectItem(expr=expr, alias=alias))
        for fm in re.finditer(
            r"\b(sum|count|avg|min|max)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*|\*)\s*\)",
            expr, re.IGNORECASE,
        ):
            if fm.group(2) != "*":
                value_cols.add(fm.group(2))
    if len(value_cols) != 1:
        raise ValueError(
            f"CREATE AGGREGATION {name}: the incremental cascade keeps "
            f"count/sum/min/max partials of ONE value column; select "
            f"references {sorted(value_cols) or 'none'}"
        )
    group_by = split_top_level(grp_txt, ",") if grp_txt else []
    # 'SECONDS', 'second, minute', or a range 'sec ... year'
    if "..." in gran_txt:
        lo_t, hi_t = (p.strip() for p in gran_txt.split("...", 1))
        lo, hi = _GRAN_ALIASES.get(lo_t.lower()), _GRAN_ALIASES.get(hi_t.lower())
        if lo is None or hi is None:
            raise ValueError(f"unknown granularity in range {gran_txt!r}")
        i, j = _GRAN_ORDER.index(lo), _GRAN_ORDER.index(hi)
        if i > j:
            raise ValueError(f"granularity range reversed: {gran_txt!r}")
        grans = _GRAN_ORDER[i : j + 1]
    else:
        grans = []
        for g in re.split(r"[,\s]+", gran_txt.strip()):
            if not g:
                continue
            gn = _GRAN_ALIASES.get(g.lower())
            if gn is None:
                raise ValueError(f"unknown granularity {g!r} (supported: "
                                 f"{sorted(set(_GRAN_ALIASES))})")
            grans.append(gn)
        if not grans:
            raise ValueError("AGGREGATE EVERY needs at least one granularity")
    return CreateAggregation(
        name=name,
        source=source,
        value_col=value_cols.pop(),
        select=select,
        group_by=group_by,
        granularities=grans,
    )


def _parse_partition(stmt: str) -> Partition:
    # `PARTITION BY key OF Stream BEGIN ... END` (the spelling the
    # reference's compatibility corpus uses, tables.rs:75 — its own
    # grammar never supported it) normalizes to the PARTITION WITH form
    bm = re.match(
        r"PARTITION\s+BY\s+(.+?)\s*(BEGIN\b.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if bm:
        stmt = f"PARTITION WITH ({bm.group(1)}) {bm.group(2)}"
    m = re.match(
        r"PARTITION\s+WITH\s*\((.*?)\)\s*BEGIN\b(.*?)\bEND\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse PARTITION: {stmt[:80]!r}")
    keys: dict[str, object] = {}
    for part in split_top_level(m.group(1), ","):
        p = part.strip()
        km = re.match(
            r"([A-Za-z_][A-Za-z0-9_]*)\s+OF\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
            p,
            re.IGNORECASE,
        )
        if km:
            keys[km.group(2)] = km.group(1)
            continue
        # RANGE partition (reference range_partition_type.rs: a list of
        # (condition, label) RangePartitionProperty per stream):
        #   cond AS 'label' [OR cond AS 'label']... OF Stream
        rm = re.match(
            r"(.+)\s+OF\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
            p,
            re.IGNORECASE | re.DOTALL,
        )
        if rm and re.search(r"\bAS\s+'", rm.group(1), re.IGNORECASE):
            # anchored arm-by-arm consumption: findall would silently DROP a
            # malformed tail after a valid prefix (events of the dropped arms
            # then vanish from the block instead of the statement failing)
            txt = rm.group(1).strip()
            arm = re.compile(
                # \s* after OR: "OR(cond)" is legal; progress is still
                # guaranteed because the OR token itself is consumed. The
                # separator is captured so a DANGLING trailing OR (consumed
                # with no arm after it) still fails loudly.
                r"(.+?)\s+AS\s+'([^']+)'\s*(\bOR\b\s*|$)",
                re.IGNORECASE | re.DOTALL,
            )
            pos = 0
            ranges = []
            while pos < len(txt):
                am = arm.match(txt, pos)
                if not am:
                    raise ValueError(
                        f"cannot parse range partition arm at {txt[pos:pos + 60]!r}"
                    )
                cond = am.group(1).strip()
                if re.match(r"OR\b", cond, re.IGNORECASE):
                    # "... OR OR c AS 'y'": a doubled separator leaks into
                    # the next arm's condition — refuse, don't compile garbage
                    raise ValueError(
                        f"cannot parse range partition arm at {cond[:60]!r}"
                    )
                ranges.append((am.group(2), cond))
                pos = am.end()
                if pos >= len(txt) and am.group(3).strip():
                    raise ValueError(
                        "dangling OR after the last range partition arm"
                    )
            if ranges:
                keys[rm.group(2)] = ranges
                continue
        raise ValueError(f"cannot parse partition key {part!r}")
    queries = []
    for q in split_top_level(m.group(2), ";"):
        if q.strip():
            queries.append(parse_query(q.strip()))
    def _key_for(stream: str) -> str:
        spec = keys[stream]
        # range partitions key on the derived bucket-label column the
        # compiler injects (one map-only explode over matching labels)
        return "_range" if isinstance(spec, list) else spec

    for q in queries:
        src = q.source
        if isinstance(src, StreamRef) and src.name in keys:
            q.partition_key = _key_for(src.name)
        elif isinstance(src, PatternSource):
            for step in src.steps:
                els = [step.first, step.second] if isinstance(step, PatternGroup) else [step]
                for el in els:
                    if el.stream in keys:
                        q.partition_key = _key_for(el.stream)
                        break
    return Partition(keys=keys, queries=queries)


def parse_query(stmt: str) -> Query:
    insert_into = None
    m = re.match(r"INSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s+(.*)$", stmt,
                 re.IGNORECASE | re.DOTALL)
    if m:
        insert_into = m.group(1)
        stmt = m.group(2).strip()
    if not stmt.upper().startswith("SELECT"):
        raise ValueError(f"expected SELECT, got {stmt[:40]!r}")
    body = stmt[6:].strip()

    # carve off trailing clauses in reverse order
    def carve(src: str, kw: str) -> tuple[str, str | None]:
        pos = find_keyword(src, kw)
        if pos < 0:
            return src, None
        return src[:pos].rstrip(), src[pos + len(kw):].strip()

    body, offset_txt = carve(body, "OFFSET")
    body, limit_txt = carve(body, "LIMIT")
    body, order_txt = carve(body, "ORDER BY")
    body, having_txt = carve(body, "HAVING")
    body, group_txt = carve(body, "GROUP BY")
    # WITHIN belongs to PATTERN sources; carve before WHERE so it can follow it
    body, where_txt = carve(body, "WHERE")
    pos = find_keyword(body, "FROM")
    if pos < 0:
        raise ValueError("query has no FROM")
    select_txt, from_txt = body[:pos], body[pos + 4:].strip()

    select = []
    for item in split_top_level(select_txt, ","):
        am = re.match(r"(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", item,
                      re.IGNORECASE | re.DOTALL)
        if am:
            select.append(SelectItem(expr=am.group(1).strip(), alias=am.group(2)))
        else:
            select.append(SelectItem(expr=item.strip(), alias=None))

    source, where_from_pattern = _parse_source(from_txt)
    order_by = []
    if order_txt:
        for o in split_top_level(order_txt, ","):
            om = re.match(r"(.*?)(?:\s+(ASC|DESC))?\s*$", o.strip(),
                          re.IGNORECASE | re.DOTALL)
            order_by.append(
                (om.group(1).strip(), bool(om.group(2) and om.group(2).upper() == "DESC"))
            )
    return Query(
        select=select,
        source=source,
        where=where_txt or where_from_pattern,
        group_by=split_top_level(group_txt, ",") if group_txt else [],
        having=having_txt,
        order_by=order_by,
        limit=int(limit_txt) if limit_txt else None,
        offset=int(offset_txt) if offset_txt else None,
        insert_into=insert_into,
    )


_JOIN_RE = re.compile(
    r"\b(INNER\s+JOIN|LEFT\s+OUTER\s+JOIN|RIGHT\s+OUTER\s+JOIN|FULL\s+OUTER\s+JOIN|JOIN)\b",
    re.IGNORECASE,
)


def _parse_source(from_txt: str):
    """Returns (source, extra_where)."""
    up = from_txt.upper()
    if up.startswith("PATTERN") or up.startswith("SEQUENCE") or up.startswith("EVERY"):
        return _parse_pattern(from_txt), None

    am = re.match(
        r"^([A-Za-z_][A-Za-z0-9_]*)\s+"
        r"(?:WITHIN\s+'([^']+)'\s+AND\s+'([^']+)'\s+)?"
        r"PER\s+'([^']+)'\s*$",
        from_txt,
        re.IGNORECASE,
    )
    if am:
        name, lo, hi, per_txt = am.groups()
        per = _GRAN_ALIASES.get(per_txt.lower())
        if per is None:
            raise ValueError(
                f"unknown PER granularity {per_txt!r} (supported: "
                f"{sorted(set(_GRAN_ALIASES))})"
            )
        return AggregationRef(
            name=name, per=per, within=(lo, hi) if lo else None
        ), None

    # join chain? split at top-level JOIN keywords. The reference allows
    # exactly ONE join per query (converter.rs:531); Spark has no such
    # limit, so chains compile left-associatively — strictly more capable
    # (SURVEY §7 hard spot (d)).
    parts = split_keyword(from_txt, "JOIN")
    if len(parts) >= 2:
        left_txt = parts[0]
        jtype = "inner"
        for t, name in (
            ("LEFT OUTER", "left_outer"), ("RIGHT OUTER", "right_outer"),
            ("FULL OUTER", "full_outer"), ("INNER", "inner"),
        ):
            pos = find_keyword(left_txt, t)
            if pos >= 0:
                jtype = name
                left_txt = left_txt[:pos]
                break
        source = _parse_stream_ref(left_txt)
        for i, seg in enumerate(parts[1:]):
            seg_jtype = jtype if i == 0 else "inner"
            # each later segment may carry its own type prefix after ON-part
            on_split = split_keyword(seg, "ON")
            if len(on_split) != 2:
                raise ValueError(f"join segment missing ON: {seg[:50]!r}")
            right_txt, on_txt = on_split
            # a following segment's type keywords were consumed into on_txt
            # of the PREVIOUS segment when splitting on JOIN; detect a
            # trailing type on on_txt
            nxt_type = "inner"
            for t, name in (
                ("LEFT OUTER", "left_outer"), ("RIGHT OUTER", "right_outer"),
                ("FULL OUTER", "full_outer"), ("INNER", "inner"),
            ):
                pos = find_keyword(on_txt, t)
                if pos >= 0:
                    nxt_type = name
                    on_txt = on_txt[:pos]
                    break
            source = JoinSource(
                left=source,
                right=_parse_stream_ref(right_txt),
                join_type=seg_jtype,
                on=on_txt.strip(),
            )
            jtype = nxt_type
        return source, None
    return _parse_stream_ref(from_txt), None


def _parse_stream_ref(txt: str) -> StreamRef:
    txt = txt.strip()
    wpos = find_keyword(txt, "WINDOW")
    window = None
    if wpos >= 0:
        wtxt = txt[wpos:]
        txt = txt[:wpos].strip()
        wm = re.match(r"WINDOW\s*\((.*)\)\s*$", wtxt, re.IGNORECASE | re.DOTALL)
        if wm:
            window = _parse_window(wm.group(1))
        else:
            # keyword form: WINDOW TUMBLING(d) / SLIDING(s, sl) / SESSION(g)
            km = re.match(r"WINDOW\s+(.*)$", wtxt, re.IGNORECASE | re.DOTALL)
            if not km:
                raise ValueError(f"cannot parse window clause {wtxt!r}")
            window = _parse_window(km.group(1))
    m = re.match(
        r"([A-Za-z_][A-Za-z0-9_]*)(?:\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s*$", txt
    )
    if not m:
        raise ValueError(f"cannot parse stream ref {txt!r}")
    return StreamRef(name=m.group(1), alias=m.group(2), window=window)


def _parse_window(args_txt: str) -> WindowSpec:
    args = split_top_level(args_txt, ",")
    first = args[0].strip()
    # WINDOW('type', …) form
    qm = re.match(r"'([A-Za-z]+)'$", first)
    if qm:
        return WindowSpec(kind=qm.group(1).lower(), params=args[1:])
    # keyword form: TUMBLING(d) / SLIDING(size, slide) / SESSION(gap)
    km = re.match(r"(TUMBLING|SLIDING|SESSION)\s*\((.*)\)\s*$", args_txt.strip(),
                  re.IGNORECASE | re.DOTALL)
    if km:
        return WindowSpec(
            kind=km.group(1).lower(), params=split_top_level(km.group(2), ",")
        )
    raise ValueError(f"cannot parse window spec {args_txt!r}")


def _parse_pattern(txt: str) -> PatternSource:
    every = False
    up = txt.upper()
    mode = "pattern"
    if up.startswith("EVERY"):
        every = True
        txt = txt[5:].strip()
        up = txt.upper()
    if up.startswith("SEQUENCE"):
        mode = "sequence"
        txt = txt[8:].strip()
    elif up.startswith("PATTERN"):
        txt = txt[7:].strip()
    # optional WITHIN suffix after the closing paren
    within = None
    wpos = find_keyword(txt, "WITHIN")
    if wpos >= 0:
        within = parse_duration_seconds(txt[wpos + 6:])
        txt = txt[:wpos].strip()
    if txt.startswith("(") and txt.endswith(")"):
        txt = txt[1:-1].strip()
    if txt.upper().startswith("EVERY"):
        every = True
        txt = txt[5:].strip()
    steps = []
    for step_txt in split_keyword(txt, "->"):
        steps.append(_parse_pattern_step(step_txt))
    return PatternSource(steps=steps, mode=mode, within_seconds=within, every=every)


def _parse_pattern_step(txt: str):
    txt = txt.strip()
    if txt.startswith("(") and txt.endswith(")"):
        txt = txt[1:-1].strip()
    if txt.upper().startswith("NOT "):
        body = txt[4:].strip()
        fpos = find_keyword(body, "FOR")
        if fpos < 0:
            raise ValueError(f"absent element needs FOR <duration>: {txt!r}")
        dur = parse_duration_seconds(body[fpos + 3 :])
        head = body[:fpos].strip()
        m = re.match(
            r"([A-Za-z_][A-Za-z0-9_]*)\s*(?:\[(.*?)\])?\s*$", head, re.DOTALL
        )
        if not m:
            raise ValueError(f"cannot parse absent element {txt!r}")
        return AbsentElement(stream=m.group(1), filter=m.group(2), for_seconds=dur)
    for op in ("AND", "OR"):
        parts = split_keyword(txt, op)
        if len(parts) == 2:
            return PatternGroup(
                op=op.lower(),
                first=_parse_pattern_element(parts[0]),
                second=_parse_pattern_element(parts[1]),
            )
        if len(parts) > 2:
            if op == "AND":
                raise ValueError(
                    "n-ary AND groups are not supported (the reference "
                    "pairs exactly two streams; chain 2-element ANDs "
                    "through intermediate streams instead)"
                )
            els = [_parse_pattern_element(p) for p in parts]
            return PatternGroup(
                op="or", first=els[0], second=els[1], rest=els[2:]
            )
    return _parse_pattern_element(txt)


def _parse_pattern_element(txt: str) -> PatternElement:
    m = re.match(
        r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s*"
        r"(?:\[(.*?)\])?\s*(?:\{\s*(\d+)\s*(,\s*(\d+)?\s*)?\})?\s*$",
        txt.strip(),
        re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse pattern element {txt!r}")
    mn = int(m.group(4)) if m.group(4) is not None else None
    if m.group(5) is None:
        mx = mn  # {m} → exactly m
    else:
        # {m,} → unbounded; {m,n} → n
        mx = int(m.group(6)) if m.group(6) is not None else None
    if mn is not None:
        if mn < 1:
            raise ValueError(
                "count quantifier min must be >= 1 (zero-count patterns "
                "A*/A?/A{0,n} are not supported, matching the reference)"
            )
        if mx is not None and mx < mn:
            raise ValueError(f"count quantifier max {mx} < min {mn}")
    return PatternElement(
        alias=m.group(1),
        stream=m.group(2),
        filter=m.group(3),
        min_count=mn,
        max_count=mx,
    )
