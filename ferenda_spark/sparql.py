"""SPARQL SELECT-subset compiler over the triples table.

The reference's *generic* query surface is SPARQL against the
triplestore: ``TripleStore.select()`` / ``construct()``
(ferenda/triplestore.py:179-200, 418-448 — the HTTP/RDFLib dispatch),
with the repo-level queries built as SPARQL strings (facet SELECT with
one OPTIONAL per facet, documentrepository.py:2220-2310; the
annotations CONSTRUCT, res/sparql/annotations.rq). The named read
paths are dedicated operators here (facets.py, relate.py,
graph/closure.py); this module covers the ad-hoc surface so a
reference user's own SELECT queries run too.

Supported subset (what ferenda's own queries use):

- ``PREFIX`` declarations, ``SELECT [DISTINCT] ?v… | *``,
  ``DESCRIBE <iri>…`` / ``DESCRIBE ?v WHERE { … }`` (desugared to
  CONSTRUCT; bnode-free CBD = outgoing triples)
- basic graph patterns: ``?s <p> ?o`` triples with URI / prefixed /
  ``a`` / string-literal (with optional ``@lang``) / numeric terms
- ``OPTIONAL { … }`` groups with their own FILTERs, BINDs, VALUES,
  MINUS and FILTER [NOT] EXISTS blocks, nested to any depth, and
  usable inside UNION branches / EXISTS / MINUS bodies
- ``MINUS { … }`` in any group (per-spec no-op when the domains are
  disjoint — the rule that distinguishes it from NOT EXISTS); a
  UNION inside the MINUS body splits into one anti-join per
  alternative
- basic graph patterns with Turtle ``;`` predicate-object and ``,``
  object lists, and inverse predicates ``^p`` (incl. ``^p+``/``^p*``)
- property-path alternation ``(p1|p2)`` (plain → predicate IN scan;
  quantified → closure over the union edge set) and negated property
  sets ``!p`` / ``!(p1|p2)`` (→ predicate NOT IN scan)
- sequence paths ``e1/e2/…`` (elements may each carry ``^`` and
  quantifiers, e.g. ``^p1+/p2``) — desugared at parse time into the
  spec's fresh-variable triple chain, so every element composes with
  the full path machinery; the internal variables never reach
  ``SELECT *``
- ``FILTER`` expressions: ``= != < <= > >=``, ``IN (…)``,
  ``regex(?v, "pat")``, ``bound(?v)``, ``str(?v)``, ``concat(…)``,
  ``strstarts/strends(e, e)``, ``strbefore/strafter(e, e)``,
  ``strlen/ucase/lcase/contains/substr/replace``,
  ``abs/ceil/floor/round`` (spec ROUND = floor(x+0.5), ties toward
  +∞; CEIL/FLOOR unified to double across engines),
  ``IF(c, t, e)`` and ``COALESCE(…)``
  (1:1 engine builtins, usable in FILTER and BIND),
  ``MD5``/``SHA256`` (lowercase hex over the UTF-8 lexical form),
  ``isNumeric(e)`` (TRY_CAST-to-double survives — exactly "the value
  works in numeric contexts"), ``sameTerm(a, b)`` (lexical identity,
  no numeric coercion), ``e [NOT] IN (…)`` lists,
  numeric arithmetic ``+ - * /`` with parenthesized grouping
  (operands double-coerced; non-numeric bindings and division by
  zero → NULL in both backends),
  ``isUri/isIRI/isLiteral(?v)``,
  ``lang(?v) = "tag"`` (``""`` = untagged literals per spec),
  ``langMatches(lang(?v), "range")`` (RFC 4647 basic filtering:
  ``"*"`` = any non-empty tag, ``"en"`` matches ``en`` and ``en-US``
  case-insensitively) and ``datatype(?v) = <uri>`` (simple literal →
  ``xsd:string``, tagged → ``rdf:langString`` per spec) — all four as
  top-level conjuncts compiled to objtype / lang / datatype scan
  constraints, ``! && ||``
- ``BIND(expr AS ?v)`` in any group, ``VALUES ?v { … }`` /
  ``VALUES (?a ?b) { (…)… }`` with ``UNDEF``
- ``FILTER [NOT] EXISTS { … }`` in any group (compiled to a
  left-semi / left-anti join — Spark's native form — and a
  correlated (NOT) EXISTS subquery in the SQL twin); a UNION body
  under NOT EXISTS De-Morgans into one anti-join per alternative,
  and under positive EXISTS compiles to one semi-join against the
  aligned union (EXISTS(A∪B) = EXISTS A OR EXISTS B)
- ``GRAPH <ctx> { … }`` → context-column constraint on the scans,
  property-path triples included (the closure runs over that
  context's edges only); under ``GRAPH ?var`` a path is the same
  closure with the graph as one more join key (``g``, which no hop
  crosses: one shared iteration keyed on (graph, node) — Spark — / a
  context-carrying recursive CTE — SQL), ?var bound to ``g``
- aggregates ``COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT`` (SAMPLE
  is deterministic-MIN; GROUP_CONCAT concatenates in sorted order —
  both choices valid per spec and identical across backends), over a
  bare variable, ``*``, or a FULL EXPRESSION (``SUM(?a * 2 + 1)``,
  ``COUNT(xsd:integer(?x))``; SUM/AVG DISTINCT stays variable-only),
  with ``GROUP BY`` — over variables OR expression keys
  (``GROUP BY (STRBEFORE(?id, ":") AS ?k)``, projectable via the
  alias; anonymous keys group under hidden names; no aggregates ≡
  DISTINCT over the keys) — and ``HAVING`` — over group vars, agg
  aliases, and INLINE aggregate calls (``HAVING(COUNT(?x) > 2)``,
  hoisted to hidden projections)
- ``ORDER BY`` keys may be full expressions (``DESC(STRLEN(?t))``,
  bare function calls, casts) over the OUTPUT columns — including
  AGGREGATE calls under GROUP BY (``ORDER BY DESC(COUNT(?x))``,
  hoisted to hidden projections that survive until after the sort);
  unbound sorts LOWEST per spec (asc nulls first / desc nulls last —
  pinned explicitly in the SQL twin, whose engine default differs)
- property paths ``p*`` / ``p+`` / bounded ``p{m,n}`` & ``p{,n}``,
  over a URI, an alternation ``(p1|p2)`` or a negated set
  ``!(p1|p2)`` (closure over the complement edge set), each
  composing with ``^``; string literals may be single- or
  double-quoted (the tokenizer normalizes);
  plain nested ``{ … }`` groups inline at any depth; UNION nests to
  any depth via parse-time DNF distribution (``T·(A∪B) = T·A ∪
  T·B``, multiset-preserving) — everywhere except inside positive
  EXISTS and GRAPH bodies; a UNION as an OPTIONAL body compiles to
  ONE left join against the NULL-padded union of the alternatives
  (left joins don't distribute over union; branches must bind the
  same outer variables)
- ``ASK { … }`` → one boolean row
- subqueries ``{ SELECT … }`` in any group — top-level WHERE, UNION
  branches, and OPTIONAL bodies (an aggregate subquery under OPTIONAL
  left-joins on its projected group key, the facet-with-counts shape)
  (explicit projection required; the body recurses through the full
  compiler, so aggregates/paths/OPTIONAL inside are legal), joined to
  the outer pattern on the variables they project
- ``EXISTS { … }`` / ``NOT EXISTS { … }`` in EXPRESSION position
  (``FILTER(EXISTS{…} || …)``, ``BIND(IF(EXISTS{…},…) AS ?v)``):
  hoisted to a DISTINCT boolean probe left-join (Spark) / a
  correlated EXISTS subquery (SQL twin) — see EExistsMarker; the
  statement-level FILTER [NOT] EXISTS keeps its semi/anti-join form
- ``"…"^^xsd:dateTime`` / ``^^xsd:date`` typed literals: comparisons
  involving one use TIMELINE order — both sides map to epoch instants
  via engine-identical lexical arithmetic (days-from-civil + time −
  zone offset; zoneless = UTC in both engines); non-dateTime-shaped
  values are type errors → unbound. In object pattern position a
  typed literal constrains the value AND the datatype, with the
  spec's mapping (``"x"^^xsd:string`` matches the simple literal)
- blank nodes: ``_:label`` in WHERE patterns = fresh non-projectable
  variable (spec 4.1.4); in CONSTRUCT templates = one minted node per
  (label, solution), as deterministic md5-of-solution skolem ids so
  both backends emit identical strings
- XPath constructor casts ``xsd:integer/decimal/double/float/string/
  boolean/dateTime/date(e)`` (SPARQL 17.5) — see ECast; a temporal
  cast in a comparison switches it to timeline order, which is how
  two date VARIABLES compare by instant
- group evaluation order (every group, the WHERE group included —
  SPARQL §18.2.2): BGP, UNION blocks, VALUES, subqueries and
  EXISTS-in-expression probes; then BINDs; then OPTIONAL left joins;
  then BINDs that read an OPTIONAL-bound variable (deferred past the
  left joins — the COALESCE-defaulting idiom); then FILTER [NOT]
  EXISTS, MINUS and FILTERs over the whole group. A group with no
  pattern is the single empty solution. Subset restrictions: BINDs
  are not interleaved textually with OPTIONALs (a BIND reading a
  variable bound by neither a preceding pattern nor an OPTIONAL of
  its group is an error, not an unbound value), and an
  EXISTS-in-expression body may not share a variable its group binds
  only by BIND or OPTIONAL (the probe joins before those — an error,
  not an uncorrelated probe)
- ``ORDER BY [ASC|DESC](?v)…``, ``LIMIT n``, ``OFFSET n`` (OFFSET
  requires ORDER BY; deterministic across engines only when the order
  key is a total order — the same caveat the reference's own WSGI
  pagination carries)

Every ``.rq`` file shipped in the reference tree (18 files: core +
RFC + legal-SE + lagen.nu) parses, compiles AND runs through both
backends with row-for-row agreement (tests/test_sparql.py — six of
them additionally against hand-built semantic goldens).

Compilation is twinned: :func:`compile_spark` builds the DataFrame
plan, :func:`compile_sql` emits structurally identical ANSI SQL (the
DuckDB correctness oracle). Both render one shared join plan — the
scoping pass :func:`_scope` fixes each group's step order, in-scope
variables, join keys, BIND deferral and UNION alignment, and raises
every scoping error — so a scoping bug cannot hide in only one
backend.

Scale shape (100 TB triples table):

- every triple pattern is a *predicate-bound scan* — the predicate
  equality reaches the parquet reader as a pushed filter, and with the
  lake's files sorted by (predicate, subject) row-group min/max
  statistics skip the other predicates' rows;
- the join plan is ordered greedily most-bound-first among connected
  patterns, so the most selective scan anchors the pipeline; pattern
  scans are narrow (only the variable columns survive the scan
  projection) and AQE broadcasts the small sides;
- subject—subject joins (the dominant shape: facet OPTIONALs all join
  on ``?uri``) reuse one hash partitioning on the subject column, so a
  chain of them shuffles each pattern scan once (the lake buckets its
  files by ``source_url``, so that one shuffle stays);
- FILTERs compile to native column expressions — no UDFs anywhere.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"

# constant-endpoint property paths switch from the shared all-pairs
# closure to a seeded frontier BFS above this edge count (the same
# hybrid-branch pattern as operators/graphops.py)
PATH_DRIVER_THRESHOLD = 2_000_000

# ------------------------------------------------------------ tokenizer

_TOKEN = re.compile(r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<uri><[^>\s]*>)
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<num>-?\d+(?:\.\d+)?)
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z0-9_.-]*)
  | (?P<kw>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>&&|\|\||!=|<=|>=|\^\^|[{}().,;=<>!*+^|/-])
""", re.VERBOSE)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise SparqlError("cannot tokenize at %r" % text[pos:pos + 20])
        pos = m.end()
        kind = m.lastgroup
        tok = m.group()
        if kind == "str" and tok.startswith("'"):
            # normalize 'single-quoted' (spec-legal) to the canonical
            # double-quoted form every consumer expects: unescape \',
            # escape raw "
            body = tok[1:-1].replace("\\'", "'").replace('"', '\\"')
            tok = '"%s"' % body
        if kind != "ws":
            out.append((kind, tok))
    out.append(("eof", ""))
    return out


class SparqlError(ValueError):
    pass


# ---------------------------------------------------------------- model

# term = ("var", name) | ("uri", value) | ("lit", value, lang_or_None)
#      | ("num", float_text)
# a predicate term may additionally be ("path", uri, "*" | "+") — a
# SPARQL property path (zero-or-more / one-or-more hops)

@dataclass
class Triple:
    s: tuple
    p: tuple
    o: tuple
    # compile-time scan constraints (set by the parser/rewriter, read
    # by the shared _scan_spec so both backends get them identically):
    # o_objtype: "uri"/"literal" — an isUri/isLiteral FILTER conjunct
    # pushed into the scan; graph: GRAPH <uri> context
    o_objtype: str | None = None
    o_lang: str | None = None
    # o_langrange: langMatches(lang(?v), "range") → RFC 4647 basic
    # filtering on the lang column; o_datatype: datatype(?v) = <uri>
    # → datatype-column constraint (spec simple→xsd:string /
    # tagged→rdf:langString mapped onto the table's NULL encodings)
    o_langrange: str | None = None
    o_datatype: str | None = None
    graph: str | None = None
    # GRAPH ?var context: the variable binds to the scan's context
    # column (named graphs only, per spec — NULL/'' contexts excluded)
    graph_var: str | None = None


@dataclass
class Group:
    triples: list = field(default_factory=list)
    filters: list = field(default_factory=list)   # expr ASTs
    binds: list = field(default_factory=list)     # [(Expr, var-name)]
    values: list = field(default_factory=list)    # [(var-names, rows)]
    exists: list = field(default_factory=list)    # [(positive, Group)]
    minus: list = field(default_factory=list)     # [Group]
    optionals: list = field(default_factory=list)  # nested OPTIONALs
    subqueries: list = field(default_factory=list)  # [Query]
    # EXISTS { … } used in EXPRESSION position (inside a FILTER/BIND
    # expression, not the statement-level FILTER EXISTS): hoisted by
    # the parser to [(marker-var, Group)]; the compilers left-join a
    # DISTINCT boolean probe before evaluating binds/filters and the
    # EExistsMarker node reads COALESCE(marker, FALSE)
    exists_markers: list = field(default_factory=list)
    # an OPTIONAL / EXISTS body that is a UNION: the alternatives
    # (already DNF-distributed); when set, every other field is empty
    # and the compilers join ONCE against the aligned union of the
    # compiled alternatives (left joins don't distribute over union)
    union_alts: list = field(default_factory=list)
    # UNION blocks [[Group]] kept as blocks — only the top-level WHERE
    # has them: every nested group is DNF-distributed by _dnf
    unions: list = field(default_factory=list)


def _merge_into(dst: Group, src: Group) -> None:
    """Inline src's every field into dst (plain nested group, or one
    DNF distribution step). Triple objects are shared, not copied —
    they are read-only after parsing (GRAPH stamps contexts before
    any distribution and rejects non-trivial bodies)."""
    dst.triples.extend(src.triples)
    dst.filters.extend(src.filters)
    dst.binds.extend(src.binds)
    dst.values.extend(src.values)
    dst.exists.extend(src.exists)
    dst.minus.extend(src.minus)
    dst.optionals.extend(src.optionals)
    dst.subqueries.extend(src.subqueries)
    dst.exists_markers.extend(src.exists_markers)


def _merge_groups(a: Group, b: Group) -> Group:
    g = Group()
    _merge_into(g, a)
    _merge_into(g, b)
    return g


def _dnf(g: Group) -> list:
    """The disjunctive normal form of a group's UNION blocks: a list
    of alternative Groups (one when there is no UNION). Distribution
    ``T · (A ∪ B) = T·A ∪ T·B`` preserves multiset semantics; several
    UNION blocks in one group cross-multiply."""
    alts, blocks, g.unions = [g], g.unions, []
    for block in blocks:
        alts = [_merge_groups(a, b) for a in alts for b in block]
    return alts


def _union_body(alts: list) -> Group:
    """An OPTIONAL / EXISTS body from its DNF alternatives: the group
    itself, or a ``union_alts`` wrapper the compilers join once."""
    return alts[0] if len(alts) == 1 else Group(union_alts=alts)


def _walk(g: Group):
    """g and every group nested in it that the compilers recurse into
    (subqueries and EXISTS-in-expression bodies excluded)."""
    yield g
    for sub in (g.optionals + g.minus + [eg for _, eg in g.exists]
                + g.union_alts + [a for block in g.unions for a in block]):
        yield from _walk(sub)


@dataclass
class Query:
    distinct: bool
    proj: list          # var names in order, or ["*"]
    where: Group
    order: list         # [(var, descending)]
    limit: int | None
    construct: list | None = None                # template triples
    group_by: list = field(default_factory=list)
    ask: bool = False                            # ASK query → 1 bool row
    offset: int | None = None
    having: object | None = None                 # Expr over aliases/keys
    # aggregates hoisted out of HAVING: ("agg", …) tuples computed in
    # the groupBy under hidden __hagg aliases, excluded from output
    having_aggs: list = field(default_factory=list)
    # GROUP BY expression keys: [(Expr, name)] — computed as derived
    # columns before grouping; `name` also appears in group_by (an AS
    # alias is projectable, an anonymous key gets a hidden __gk name)
    group_exprs: list = field(default_factory=list)
    # proj items are var-name strings or
    # ("agg", FUNC, distinct, var_or_None, alias, sep_or_None) tuples


# ----------------------------------------------------------- expressions

class Expr:
    """Filter-expression AST; each node renders to a Spark Column via
    ``spark(env)`` and to SQL text via ``sql(env)`` where env maps a
    variable name to its (Column, sql-identifier) pair."""


@dataclass
class EVar(Expr):
    name: str

    def spark(self, env):
        return env[self.name][0]

    def sql(self, env):
        return env[self.name][1]


@dataclass
class EConst(Expr):
    term: tuple

    @property
    def numeric(self):
        return self.term[0] == "num"

    @property
    def temporal(self):
        """A "..."^^xsd:dateTime / xsd:date typed literal — triggers
        timeline (instant) comparison semantics in ECmp."""
        return (self.term[0] == "dtlit"
                and self.term[2] in (XSD_DATETIME, XSD_DATE))

    def spark(self, env):
        if self.numeric:
            return F.lit(float(self.term[1]))
        return F.lit(self.term[1])

    def sql(self, env):
        if self.numeric:
            return self.term[1]
        return "'%s'" % self.term[1].replace("'", "''")


# ------------------------------------- xsd:dateTime timeline instants
#
# SPARQL orders xsd:dateTime/xsd:date literals on the TIMELINE, not
# lexically: "2024-03-15T10:30:05+05:00" < "2024-03-15T06:30:05Z"
# (05:30Z vs 06:30Z). Engine timestamp parsers disagree on zone rules
# and session TZ, so — like the EStrFn accessors — instants are
# computed from the FIXED-WIDTH lexical parts with engine-identical
# arithmetic: Hinnant's days-from-civil formula + h/m/s − offset.
# A literal without a zone designator is treated as UTC in BOTH
# engines (the spec leaves it implementation-defined within ±14 h; one
# consistent choice keeps the twin exact). A value that doesn't match
# the anchored date/dateTime shape is a type error → NULL/unbound.

_DT_FULL_RX = (r"^\d{4}-\d{2}-\d{2}"
               r"(T\d{2}:\d{2}:\d{2}(\.\d+)?)?"
               r"(Z|[+-]\d{2}:\d{2})?$")   # keep = EStrFn._DT_RX
_DT_SEC_RX = r"^.{17}(\d{2}(\.\d+)?)"
_DT_TZ_RX = r"(Z|[+-]\d{2}:\d{2})$"


def _civil_days_py(y: int, m: int, d: int) -> int:
    """Days since 1970-01-01 (Hinnant's days_from_civil — pure integer
    arithmetic, the exact formula both column emitters mirror)."""
    yy = y - (1 if m <= 2 else 0)
    era = yy // 400
    yoe = yy - era * 400
    doy = (153 * ((m + 9) % 12) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _dt_instant_py(s: str) -> float | None:
    """Driver-side twin (for constants, folded at compile time)."""
    if not re.match(_DT_FULL_RX, s):
        return None
    secs = _civil_days_py(int(s[0:4]), int(s[5:7]), int(s[8:10])) * 86400.0
    if len(s) > 10 and s[10] == "T":
        m = re.match(r"(\d{2})(\.\d+)?", s[17:])
        secs += (int(s[11:13]) * 3600 + int(s[14:16]) * 60
                 + float(m.group(0)))
    tz = re.search(_DT_TZ_RX, s)
    if tz and tz.group(1) != "Z":
        off = int(tz.group(1)[1:3]) * 3600 + int(tz.group(1)[4:6]) * 60
        secs -= off if tz.group(1)[0] == "+" else -off
    return secs


def _dt_instant_spark(c):
    """Epoch-seconds Column from a dateTime/date lexical column; NULL
    when the value doesn't match the anchored shape."""
    s = c.cast("string")
    y = F.substring(s, 1, 4).cast("double")
    mo = F.substring(s, 6, 2).cast("double")
    d = F.substring(s, 9, 2).cast("double")
    yy = y - F.when(mo <= 2, F.lit(1)).otherwise(F.lit(0))
    era = F.floor(yy / 400)
    yoe = yy - era * 400
    doy = F.floor((F.lit(153) * ((mo + 9) % 12) + 2) / 5) + d - 1
    doe = yoe * 365 + F.floor(yoe / 4) - F.floor(yoe / 100) + doy
    days = era * 146097 + doe - 719468
    has_t = s.rlike(r"^.{10}T")
    h = F.when(has_t, F.substring(s, 12, 2).cast("double")) \
         .otherwise(F.lit(0.0))
    mi = F.when(has_t, F.substring(s, 15, 2).cast("double")) \
          .otherwise(F.lit(0.0))
    sec = F.when(has_t, F.regexp_extract(s, _DT_SEC_RX, 1)
                 .cast("double")).otherwise(F.lit(0.0))
    tz = F.regexp_extract(s, _DT_TZ_RX, 1)
    off = (F.substring(tz, 2, 2).cast("double") * 3600
           + F.substring(tz, 5, 2).cast("double") * 60)
    off = (F.when(tz.startswith("+"), off)
            .when(tz.startswith("-"), -off)
            .otherwise(F.lit(0.0)))
    return F.when(s.rlike(_DT_FULL_RX),
                  days * 86400 + h * 3600 + mi * 60 + sec - off)


def _dt_instant_sql(e: str) -> str:
    """The DuckDB twin of :func:`_dt_instant_spark`, term for term."""
    s = "CAST(%s AS VARCHAR)" % e
    y = "TRY_CAST(substr(%s, 1, 4) AS DOUBLE)" % s
    mo = "TRY_CAST(substr(%s, 6, 2) AS DOUBLE)" % s
    d = "TRY_CAST(substr(%s, 9, 2) AS DOUBLE)" % s
    yy = "(%s - (CASE WHEN %s <= 2 THEN 1 ELSE 0 END))" % (y, mo)
    era = "floor(%s / 400)" % yy
    yoe = "(%s - %s * 400)" % (yy, era)
    doy = ("(floor((153 * ((%s + 9) %% 12) + 2) / 5) + %s - 1)"
           % (mo, d))
    doe = ("(%s * 365 + floor(%s / 4) - floor(%s / 100) + %s)"
           % (yoe, yoe, yoe, doy))
    days = "(%s * 146097 + %s - 719468)" % (era, doe)
    has_t = "regexp_matches(%s, '^.{10}T')" % s
    h = ("(CASE WHEN %s THEN TRY_CAST(substr(%s, 12, 2) AS DOUBLE) "
         "ELSE 0 END)" % (has_t, s))
    mi = ("(CASE WHEN %s THEN TRY_CAST(substr(%s, 15, 2) AS DOUBLE) "
          "ELSE 0 END)" % (has_t, s))
    sec = ("(CASE WHEN %s THEN TRY_CAST(regexp_extract(%s, '%s', 1) "
           "AS DOUBLE) ELSE 0 END)" % (has_t, s, _DT_SEC_RX))
    tz = "regexp_extract(%s, '%s', 1)" % (s, _DT_TZ_RX)
    off = ("(TRY_CAST(substr(%s, 2, 2) AS DOUBLE) * 3600 "
           "+ TRY_CAST(substr(%s, 5, 2) AS DOUBLE) * 60)" % (tz, tz))
    soff = ("(CASE WHEN %s LIKE '+%%' THEN %s "
            "WHEN %s LIKE '-%%' THEN -%s ELSE 0 END)"
            % (tz, off, tz, off))
    return ("(CASE WHEN regexp_matches(%s, '%s') THEN "
            "%s * 86400 + %s * 3600 + %s * 60 + %s - %s END)"
            % (s, _DT_FULL_RX, days, h, mi, sec, soff))


@dataclass
class EAggRef(Expr):
    """Reference to a hoisted HAVING aggregate: ``HAVING(COUNT(?x) >
    2)`` parses the aggregate into a HIDDEN projection (computed in
    the groupBy, dropped from the output) and this node reads its
    alias — the same alias-scope device SPARQL itself uses for
    projected aggregates."""
    alias: str

    def spark(self, env):
        return env[self.alias][0]

    def sql(self, env):
        return env[self.alias][1]


@dataclass
class ECast(Expr):
    """XPath constructor casts ``xsd:integer(e)`` etc. (SPARQL 17.5).
    Value space is the engine-shared string/double device:

    - integer: TRY_CAST to double, NULL unless integral ("3.5" is a
      cast error per XPath string→integer; the value stays a double —
      the subset's numeric type)
    - decimal/double/float: TRY_CAST to double
    - string: CAST to varchar
    - boolean: "true"/"1" → true, "false"/"0" → false, else NULL
    - dateTime/date: the lexical form if it matches that type's
      anchored shape (dateTime REQUIRES the T-group, date forbids
      it), else NULL — and comparisons on a temporal cast use
      TIMELINE order (ECmp), which is how two date VARIABLES compare
      by instant: FILTER(xsd:dateTime(?a) < xsd:dateTime(?b))."""
    kind: str
    arg: Expr

    KINDS = ("integer", "decimal", "double", "float", "string",
             "boolean", "dateTime", "date")
    _DATE_RX = r"^\d{4}-\d{2}-\d{2}(Z|[+-]\d{2}:\d{2})?$"
    _DATETIME_RX = (r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?"
                    r"(Z|[+-]\d{2}:\d{2})?$")

    @property
    def temporal(self):
        return self.kind in ("dateTime", "date")

    @property
    def numeric(self):
        return self.kind in ("integer", "decimal", "double", "float")

    def spark(self, env):
        c = self.arg.spark(env)
        if self.kind == "string":
            return c.cast("string")
        if self.kind in ("decimal", "double", "float"):
            return c.try_cast("double")
        if self.kind == "integer":
            x = c.try_cast("double")
            return F.when(F.floor(x) == x, x)
        if self.kind == "boolean":
            s = c.cast("string")
            return (F.when(s.isin("true", "1"), F.lit(True))
                     .when(s.isin("false", "0"), F.lit(False)))
        rx = self._DATETIME_RX if self.kind == "dateTime" \
            else self._DATE_RX
        s = c.cast("string")
        return F.when(s.rlike(rx), s)

    def sql(self, env):
        s = self.arg.sql(env)
        if self.kind == "string":
            return "CAST(%s AS VARCHAR)" % s
        if self.kind in ("decimal", "double", "float"):
            return "TRY_CAST(%s AS DOUBLE)" % s
        if self.kind == "integer":
            x = "TRY_CAST(%s AS DOUBLE)" % s
            return "(CASE WHEN floor(%s) = %s THEN %s END)" % (x, x, x)
        if self.kind == "boolean":
            v = "CAST(%s AS VARCHAR)" % s
            return ("(CASE WHEN %s IN ('true', '1') THEN TRUE "
                    "WHEN %s IN ('false', '0') THEN FALSE END)"
                    % (v, v))
        rx = self._DATETIME_RX if self.kind == "dateTime" \
            else self._DATE_RX
        v = "CAST(%s AS VARCHAR)" % s
        return ("(CASE WHEN regexp_matches(%s, '%s') THEN %s END)"
                % (v, rx, v))


@dataclass
class EExistsMarker(Expr):
    """``EXISTS { … }`` in EXPRESSION position (``FILTER(EXISTS{…} ||
    …)``, ``BIND(IF(EXISTS{…},…) AS ?v)``) — not the statement-level
    FILTER EXISTS, which stays a semi/anti join. The parser hoists the
    body into the enclosing Group's ``exists_markers``; the Spark
    compiler LEFT-JOINs a DISTINCT boolean probe on the shared
    variables before binds/filters run, and the SQL twin carries a
    correlated ``EXISTS (SELECT 1 …)`` as the marker's expression
    text. This node then reads COALESCE(marker, FALSE), negated for
    ``NOT EXISTS``."""
    var: str
    positive: bool

    def spark(self, env):
        c = F.coalesce(env[self.var][0].cast("boolean"), F.lit(False))
        return c if self.positive else ~c

    def sql(self, env):
        c = "COALESCE(%s, FALSE)" % env[self.var][1]
        return c if self.positive else "(NOT %s)" % c


@dataclass
class ECmp(Expr):
    op: str
    left: Expr
    right: Expr

    def _sides(self, env, sqlmode):
        l, r = self.left, self.right
        # a "..."^^xsd:dateTime/date constant on either side switches
        # the comparison to TIMELINE order: both sides map to epoch
        # instants (constants folded on the driver via the identical
        # formula; anything else through the column emitters — NULL/
        # unbound for non-dateTime-shaped values, the type-error rule)
        temporal = (isinstance(l, (EConst, ECast)) and l.temporal) or \
                   (isinstance(r, (EConst, ECast)) and r.temporal)
        if temporal:
            def side(e):
                if isinstance(e, EConst) and not e.numeric:
                    inst = _dt_instant_py(e.term[1])
                    if inst is None:
                        if e.temporal:
                            raise SparqlError(
                                "malformed xsd:dateTime literal %r"
                                % e.term[1])
                        # plain literal that isn't dateTime-shaped:
                        # type error → unbound (comparison never true)
                        return ("CAST(NULL AS DOUBLE)" if sqlmode
                                else F.lit(None).cast("double"))
                    if sqlmode:
                        return repr(inst)
                    return F.lit(inst)
                if sqlmode:
                    return _dt_instant_sql(e.sql(env))
                return _dt_instant_spark(e.spark(env))
            return side(l), side(r)
        numeric = (isinstance(l, (EConst, ECast)) and l.numeric) or \
                  (isinstance(r, (EConst, ECast)) and r.numeric) or \
                  isinstance(l, EArith) or isinstance(r, EArith)
        # in numeric context EVERY operand coerces (same rule as
        # EArith): a var, a function result, or a COALESCE() that
        # unified to VARCHAR must all TRY_CAST to double, or DuckDB
        # binder-errors on VARCHAR >= INTEGER_LITERAL while Spark
        # ANSI-crashes on malformed strings.  EArith operands are
        # already double by construction; numeric constants are cast
        # too (harmless, keeps the emission uniform).
        if sqlmode:
            ls, rs = l.sql(env), r.sql(env)
            if numeric:
                if not isinstance(l, EArith):
                    ls = "TRY_CAST(%s AS DOUBLE)" % ls
                if not isinstance(r, EArith):
                    rs = "TRY_CAST(%s AS DOUBLE)" % rs
            return ls, rs
        lc, rc = l.spark(env), r.spark(env)
        if numeric:
            if not isinstance(l, EArith):
                lc = lc.try_cast("double")
            if not isinstance(r, EArith):
                rc = rc.try_cast("double")
        return lc, rc

    def spark(self, env):
        lc, rc = self._sides(env, False)
        return {"=": lc == rc, "!=": lc != rc, "<": lc < rc,
                "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}[self.op]

    def sql(self, env):
        ls, rs = self._sides(env, True)
        op = "<>" if self.op == "!=" else self.op
        return "(%s %s %s)" % (ls, op, rs)


@dataclass
class EArith(Expr):
    """Numeric arithmetic ``+ - * /`` over double-coerced operands.
    Variables TRY_CAST to double (non-numeric bindings → NULL, the
    SPARQL type-error-is-unbound rule); division by zero is NULL in
    BOTH backends (the integer type-error semantics — chosen over
    IEEE Inf because the two engines disagree on raw double /0)."""
    op: str
    left: Expr
    right: Expr

    def _coerce_spark(self, e, env):
        # EVERY non-arith operand gets try_cast — including EConst:
        # a string-literal constant in arithmetic must coerce (or go
        # NULL) exactly like a string binding, not reach Spark raw
        # where ANSI mode casts it to BIGINT and '5.25' CRASHES the
        # whole query (hypothesis-found, pinned in
        # test_sparql_fuzz.py::test_arith_string_const_regression).
        # An EArith operand is already double by construction.
        c = e.spark(env)
        if isinstance(e, EArith):
            return c
        return c.try_cast("double")

    def _coerce_sql(self, e, env):
        # mirror of _coerce_spark: TRY_CAST (not CAST) everywhere so
        # a non-numeric constant is NULL/unbound in BOTH engines
        # rather than a DuckDB conversion error.
        s = e.sql(env)
        if isinstance(e, EArith):
            return s
        return "TRY_CAST(%s AS DOUBLE)" % s

    def spark(self, env):
        lc = self._coerce_spark(self.left, env)
        rc = self._coerce_spark(self.right, env)
        if self.op == "/":
            return F.when(rc != 0, lc / rc)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[self.op]

    def sql(self, env):
        ls = self._coerce_sql(self.left, env)
        rs = self._coerce_sql(self.right, env)
        if self.op == "/":
            return "(%s / nullif(%s, 0))" % (ls, rs)
        return "(%s %s %s)" % (ls, self.op, rs)


@dataclass
class EIn(Expr):
    var: EVar
    items: list   # EConst

    def _split(self):
        nums = [float(c.term[1]) for c in self.items if c.numeric]
        strs = [c for c in self.items if not c.numeric]
        return nums, strs

    def spark(self, env):
        # numeric items compare under the same TRY_CAST coercion as
        # ECmp; string/URI items compare lexically — mirror of sql()
        nums, strs = self._split()
        col = self.var.spark(env)
        conds = []
        if nums:
            conds.append(col.try_cast("double").isin(nums))
        if strs:
            conds.append(col.isin([c.term[1] for c in strs]))
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    def sql(self, env):
        nums, strs = self._split()
        col = self.var.sql(env)
        conds = []
        if nums:
            conds.append("(TRY_CAST(%s AS DOUBLE) IN (%s))"
                         % (col, ", ".join(repr(v) for v in nums)))
        if strs:
            conds.append("(%s IN (%s))"
                         % (col, ", ".join(c.sql(env) for c in strs)))
        return "(%s)" % " OR ".join(conds)


@dataclass
class EIsNumeric(Expr):
    """isNumeric(?v) — in this subset every binding is a string, so
    the test is "does the lexical form coerce to a number": TRY_CAST
    to double IS NOT NULL, identical in both engines (and identical
    to the coercion ECmp/EArith apply, so isNumeric(?v) is exactly
    "?v survives numeric contexts")."""
    arg: Expr

    def spark(self, env):
        return self.arg.spark(env).try_cast("double").isNotNull()

    def sql(self, env):
        return "(TRY_CAST(%s AS DOUBLE) IS NOT NULL)" % self.arg.sql(env)


@dataclass
class ESameTerm(Expr):
    """sameTerm(a, b) — lexical-identity equality with NO numeric
    coercion ("01" = 1 under ECmp's coercion but NOT the same term),
    the spec's RDF-term identity restricted to the subset's
    string-valued bindings."""
    left: Expr
    right: Expr

    def spark(self, env):
        return self.left.spark(env) == self.right.spark(env)

    def sql(self, env):
        return "(%s = %s)" % (self.left.sql(env), self.right.sql(env))


@dataclass
class ERegex(Expr):
    var: EVar
    pattern: str

    def spark(self, env):
        return self.var.spark(env).rlike(self.pattern)

    def sql(self, env):
        return "regexp_matches(%s, '%s')" % (
            self.var.sql(env), self.pattern.replace("'", "''"))


@dataclass
class EBound(Expr):
    var: EVar

    def spark(self, env):
        return self.var.spark(env).isNotNull()

    def sql(self, env):
        return "(%s IS NOT NULL)" % self.var.sql(env)


@dataclass
class ENot(Expr):
    inner: Expr

    def spark(self, env):
        return ~self.inner.spark(env)

    def sql(self, env):
        return "(NOT %s)" % self.inner.sql(env)


@dataclass
class EStrStarts(Expr):
    left: Expr
    right: Expr

    def spark(self, env):
        return self.left.spark(env).startswith(self.right.spark(env))

    def sql(self, env):
        return "starts_with(%s, %s)" % (self.left.sql(env),
                                        self.right.sql(env))


@dataclass
class ELang(Expr):
    """lang(?v) — only valid as ``lang(?v) = "tag"`` in a top-level
    FILTER conjunct, where the rewriter pushes a lang-column constraint
    into the scan binding the variable at object position."""
    var: EVar

    def spark(self, env):
        raise SparqlError('lang() is only supported as a top-level '
                          'FILTER conjunct lang(?v) = "tag" or inside '
                          'langMatches(lang(?v), "range")')

    sql = spark


@dataclass
class ELangMatches(Expr):
    """langMatches(lang(?v), "range") — RFC 4647 basic filtering as a
    top-level FILTER conjunct: "*" matches any non-empty tag, otherwise
    the range matches a tag case-insensitively when equal or when the
    tag extends it with a "-" subtag ("en" matches "en" and "en-US").
    The rewriter pushes it into the scan binding ?v at object position;
    reaching spark()/sql() means it survived somewhere else."""
    var: EVar
    range: str

    def spark(self, env):
        raise SparqlError("langMatches is only supported as a "
                          "top-level FILTER conjunct")

    sql = spark


@dataclass
class EDatatype(Expr):
    """datatype(?v) — only valid as ``datatype(?v) = <uri>`` in a
    top-level FILTER conjunct, where the rewriter pushes a
    datatype-column constraint into the scan (with the spec's
    simple-literal → xsd:string and lang-tagged → rdf:langString
    mappings handled against the table's NULL encodings)."""
    var: EVar

    def spark(self, env):
        raise SparqlError("datatype() is only supported as a top-level "
                          "FILTER conjunct datatype(?v) = <uri>")

    sql = spark


@dataclass
class EIsType(Expr):
    """isUri/isIRI/isLiteral — only valid as a top-level FILTER
    conjunct, where the rewriter turns it into an objtype constraint on
    the scan that binds the variable (predicate pushdown, not a
    post-join test). Reaching spark()/sql() means it survived in a
    position the rewrite cannot handle."""
    var: EVar
    kind: str   # "uri" | "literal"

    def spark(self, env):
        raise SparqlError("isUri/isLiteral is only supported as a "
                          "top-level FILTER conjunct")

    sql = spark


@dataclass
class EFunc(Expr):
    """SPARQL string functions with 1:1 engine builtins: STRLEN,
    UCASE, LCASE, CONTAINS, SUBSTR(s, start, len), REPLACE(s, find,
    repl — literal find, not regex, per SPARQL REPLACE's simple use),
    STRENDS, STRBEFORE, STRAFTER, and the numeric family
    ABS/CEIL/FLOOR/ROUND.
    SUBSTR positions are 1-based in SPARQL, Spark and DuckDB alike;
    position args are cast to int in both backends so numeric literals
    (parsed as doubles) behave identically.
    STRBEFORE/STRAFTER follow the spec's empty-result rules: no
    occurrence → "", and an empty needle means position 1 in both
    engines, so STRBEFORE(s,"")="" and STRAFTER(s,"")=s fall out of
    the same formula.
    CEIL/FLOOR results are cast to double in both backends (Spark's
    ceil returns BIGINT, DuckDB's returns DOUBLE — the cast unifies
    them); ROUND is implemented as floor(x+0.5) in both, the spec's
    ties-toward-+∞ rule (the engines' own round() builtins disagree
    with the spec — and with each other — on negative ties).
    Numeric-family variable args are TRY_CAST to double (the SPARQL
    type-error-is-unbound rule, same as EArith)."""
    name: str   # strlen|ucase|…|strafter|abs|ceil|floor|round
    args: list

    # substr is (2, 3): the spec's 2-arg form takes the suffix from
    # start to end of string
    ARITY = {"strlen": 1, "ucase": 1, "lcase": 1, "contains": 2,
             "substr": (2, 3), "replace": 3, "strends": 2,
             "strbefore": 2,
             "strafter": 2, "abs": 1, "ceil": 1, "floor": 1,
             "round": 1, "md5": 1, "sha256": 1,
             "year": 1, "month": 1, "day": 1, "hours": 1,
             "minutes": 1, "seconds": 1, "tz": 1, "iri": 1, "uri": 1}
    NUMERIC = {"abs", "ceil", "floor", "round"}
    # date/dateTime accessors read the FIXED-WIDTH lexical prefix of
    # the XSD form "YYYY-MM-DDTHH:MM:SS[.fff][Z|±HH:MM]" — substring
    # arithmetic is engine-identical, where timestamp parsing (zone
    # rules, libm, session TZ) is not. A value that doesn't match the
    # anchored shape is a SPARQL type error → unbound (NULL), per the
    # subset's error-is-unbound rule; accessors of an absent time
    # part (a date-only literal) are likewise unbound.
    DATETIME = {"year", "month", "day", "hours", "minutes", "seconds",
                "tz"}
    _DT_RX = (r"^\d{4}-\d{2}-\d{2}"
              r"(T\d{2}:\d{2}:\d{2}(\.\d+)?)?"
              r"(Z|[+-]\d{2}:\d{2})?$")
    # hours/minutes demand the T-group: a date-only literal with a
    # numeric zone offset ("2024-03-15+05:00" — a legal xsd:date
    # form _DT_RX admits) would otherwise have its OFFSET digits
    # read by the fixed substring positions (r4 advice item)
    _DT_TIME_RX = (r"^\d{4}-\d{2}-\d{2}"
                   r"T\d{2}:\d{2}:\d{2}(\.\d+)?"
                   r"(Z|[+-]\d{2}:\d{2})?$")
    _DT_POS = {"year": (1, 4), "month": (6, 2), "day": (9, 2),
               "hours": (12, 2), "minutes": (15, 2)}
    _SEC_RX = r"^.{17}(\d{2}(\.\d+)?)"
    _TZ_RX = r"(Z|[+-]\d{2}:\d{2})$"

    def _spark_args(self, env):
        # numeric-family args follow the EArith rule: EVERY operand
        # that isn't itself an EArith (already double) coerces via
        # try_cast — vars, constants, and nested function results
        # alike — so abs(SECONDS(...)) or abs("x") is NULL/unbound,
        # never an ANSI cast crash (same judge-found class as
        # EArith._coerce_spark, fixed together).
        out = []
        for x in self.args:
            c = x.spark(env)
            if self.name in self.NUMERIC and not isinstance(x, EArith):
                c = c.try_cast("double")
            out.append(c)
        return out

    def _sql_args(self, env):
        out = []
        for x in self.args:
            s = x.sql(env)
            if self.name in self.NUMERIC and not isinstance(x, EArith):
                s = "TRY_CAST(%s AS DOUBLE)" % s
            out.append(s)
        return out

    def spark(self, env):
        a = self._spark_args(env)
        if self.name == "strlen":
            return F.length(a[0])
        if self.name == "ucase":
            return F.upper(a[0])
        if self.name == "lcase":
            return F.lower(a[0])
        if self.name == "contains":
            return a[0].contains(a[1])
        if self.name == "substr":
            ln = (a[2].cast("int") if len(a) == 3
                  else F.length(a[0]))     # 2-arg form: to end
            return F.substring(a[0], a[1].cast("int"), ln)
        if self.name == "strends":
            return a[0].endswith(a[1])
        if self.name == "strbefore":
            pos = F.position(a[1], a[0])
            return F.when(pos > 0,
                          F.substring(a[0], F.lit(1), pos - 1)) \
                    .otherwise(F.lit(""))
        if self.name == "strafter":
            pos = F.position(a[1], a[0])
            return F.when(pos > 0,
                          F.substring(a[0], pos + F.length(a[1]),
                                      F.length(a[0]))) \
                    .otherwise(F.lit(""))
        if self.name == "abs":
            return F.abs(a[0])
        if self.name == "ceil":
            # + 0.0 flushes IEEE negative zero (DuckDB's ceil(-0.5)
            # is -0.0, Spark's bigint ceil is 0) — both engines get it
            return F.ceil(a[0]).cast("double") + F.lit(0.0)
        if self.name == "floor":
            return F.floor(a[0]).cast("double") + F.lit(0.0)
        if self.name == "round":
            return F.floor(a[0] + F.lit(0.5)).cast("double") + F.lit(0.0)
        if self.name == "md5":
            # both engines hash the UTF-8 bytes and print lowercase hex
            return F.md5(a[0].cast("string"))
        if self.name == "sha256":
            return F.sha2(a[0].cast("string"), 256)
        if self.name in ("iri", "uri"):
            # the subset's terms live on the lexical string device —
            # IRI() is the identity there (matching STR's inverse)
            return a[0].cast("string")
        if self.name in self.DATETIME:
            s = a[0].cast("string")
            shaped = s.rlike(self._DT_RX)
            if self.name == "tz":
                return F.when(shaped, F.regexp_extract(s, self._TZ_RX, 1))
            if self.name == "seconds":
                return F.when(shaped, F.regexp_extract(
                    s, self._SEC_RX, 1).try_cast("double"))
            if self.name in ("hours", "minutes"):
                shaped = s.rlike(self._DT_TIME_RX)
            pos, ln = self._DT_POS[self.name]
            return F.when(shaped, F.nullif(
                F.substring(s, pos, ln), F.lit("")).try_cast("long"))
        return F.replace(a[0], a[1], a[2])

    def sql(self, env):
        a = self._sql_args(env)
        if self.name == "strlen":
            return "length(%s)" % a[0]
        if self.name == "ucase":
            return "upper(%s)" % a[0]
        if self.name == "lcase":
            return "lower(%s)" % a[0]
        if self.name == "contains":
            return "contains(%s, %s)" % (a[0], a[1])
        if self.name == "substr":
            ln = ("CAST(%s AS INTEGER)" % a[2] if len(a) == 3
                  else "CAST(length(%s) AS INTEGER)" % a[0])
            return "substr(%s, CAST(%s AS INTEGER), %s)" \
                % (a[0], a[1], ln)
        if self.name == "strends":
            return "ends_with(%s, %s)" % (a[0], a[1])
        if self.name == "strbefore":
            return ("(CASE WHEN strpos(%s, %s) > 0 THEN "
                    "substr(%s, 1, strpos(%s, %s) - 1) ELSE '' END)"
                    % (a[0], a[1], a[0], a[0], a[1]))
        if self.name == "strafter":
            return ("(CASE WHEN strpos(%s, %s) > 0 THEN "
                    "substr(%s, strpos(%s, %s) + length(%s)) "
                    "ELSE '' END)"
                    % (a[0], a[1], a[0], a[0], a[1], a[1]))
        if self.name == "abs":
            return "abs(%s)" % a[0]
        if self.name == "ceil":
            return "(CAST(ceil(%s) AS DOUBLE) + 0.0)" % a[0]
        if self.name == "floor":
            return "(CAST(floor(%s) AS DOUBLE) + 0.0)" % a[0]
        if self.name == "round":
            return "(CAST(floor(%s + 0.5) AS DOUBLE) + 0.0)" % a[0]
        if self.name == "md5":
            return "md5(CAST(%s AS VARCHAR))" % a[0]
        if self.name == "sha256":
            return "sha256(CAST(%s AS VARCHAR))" % a[0]
        if self.name in ("iri", "uri"):
            return "CAST(%s AS VARCHAR)" % a[0]
        if self.name in self.DATETIME:
            s = "CAST(%s AS VARCHAR)" % a[0]
            shaped = "regexp_matches(%s, '%s')" % (s, self._DT_RX)
            if self.name == "tz":
                return ("(CASE WHEN %s THEN regexp_extract(%s, '%s', 1)"
                        " END)" % (shaped, s, self._TZ_RX))
            if self.name == "seconds":
                return ("(CASE WHEN %s THEN TRY_CAST(regexp_extract("
                        "%s, '%s', 1) AS DOUBLE) END)"
                        % (shaped, s, self._SEC_RX))
            if self.name in ("hours", "minutes"):
                shaped = ("regexp_matches(%s, '%s')"
                          % (s, self._DT_TIME_RX))
            pos, ln = self._DT_POS[self.name]
            return ("(CASE WHEN %s THEN TRY_CAST(NULLIF(substr(%s, "
                    "%d, %d), '') AS BIGINT) END)"
                    % (shaped, s, pos, ln))
        return "replace(%s, %s, %s)" % (a[0], a[1], a[2])


@dataclass
class EIf(Expr):
    """IF(cond, then, else) — both engines route a NULL condition to
    the else branch (CASE WHEN NULL → ELSE), which is also what the
    SPARQL error-propagation rule degrades to under the subset's
    type-error-is-NULL convention. Branch values are uniformly cast
    to VARCHAR (the subset's variables are strings; DuckDB refuses
    mixed-type CASE arms, Spark would silently pick a common type —
    the explicit cast makes both engines identical); re-coerce
    numerically downstream with arithmetic's TRY_CAST as usual."""
    cond: Expr
    then: Expr
    other: Expr

    def spark(self, env):
        return F.when(self.cond.spark(env),
                      self.then.spark(env).cast("string")) \
                .otherwise(self.other.spark(env).cast("string"))

    def sql(self, env):
        return "(CASE WHEN %s THEN CAST(%s AS VARCHAR) " \
               "ELSE CAST(%s AS VARCHAR) END)" % (
                   self.cond.sql(env), self.then.sql(env),
                   self.other.sql(env))


@dataclass
class ECoalesce(Expr):
    """COALESCE(…) — operands uniformly cast to VARCHAR in both
    engines (same mixed-type rule as EIf)."""
    parts: list   # Expr

    def spark(self, env):
        return F.coalesce(*[p.spark(env).cast("string")
                            for p in self.parts])

    def sql(self, env):
        return "COALESCE(%s)" % ", ".join(
            "CAST(%s AS VARCHAR)" % p.sql(env) for p in self.parts)


@dataclass
class EConcat(Expr):
    parts: list   # Expr

    def spark(self, env):
        return F.concat(*[p.spark(env).cast("string")
                          for p in self.parts])

    def sql(self, env):
        return "(%s)" % " || ".join("CAST(%s AS VARCHAR)" % p.sql(env)
                                    for p in self.parts)


@dataclass
class EBool(Expr):
    op: str   # "&&" | "||"
    left: Expr
    right: Expr

    def spark(self, env):
        l, r = self.left.spark(env), self.right.spark(env)
        return (l & r) if self.op == "&&" else (l | r)

    def sql(self, env):
        return "(%s %s %s)" % (self.left.sql(env),
                               "AND" if self.op == "&&" else "OR",
                               self.right.sql(env))


# ---------------------------------------------------------------- parser

class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._seq_n = 0
        # EXISTS-in-expression hoisting: expr_primary parses the body
        # group here; the enclosing group() FILTER/BIND branch drains
        # it into Group.exists_markers (see EExistsMarker)
        self._exm_n = 0
        self._pending_markers: list = []
        # inline aggregates in HAVING: hoisted to hidden agg
        # projections (computed in the groupBy, dropped from output)
        self._in_having = False
        self._having_aggs: list = []
        self._hagg_n = 0

    def _fresh_seq_var(self) -> str:
        """Fresh internal variable for sequence-path desugaring; the
        ``__seq`` prefix is reserved (excluded from SELECT *)."""
        self._seq_n += 1
        return "__seq%d" % self._seq_n

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else self.toks[-1]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        k, v = self.peek()
        if k == "kw" and v.upper() == word:
            self.i += 1
            return True
        return False

    def expect_op(self, op: str):
        k, v = self.next()
        if v != op:
            raise SparqlError("expected %r, got %r" % (op, v))

    def parse(self) -> Query:
        q = self._parse_inner()
        if self._pending_markers:
            # an EXISTS parsed inside a projection/HAVING/ORDER BY
            # expression has no group to hoist its probe into
            raise SparqlError("EXISTS is only supported inside "
                              "FILTER/BIND expressions")
        return q

    def _parse_inner(self) -> Query:
        while self.kw("PREFIX"):
            k, v = self.next()
            if k != "pname" or not v.endswith(":"):
                raise SparqlError("bad PREFIX name %r" % v)
            name = v[:-1]
            ku, vu = self.next()
            if ku != "uri":
                raise SparqlError("bad PREFIX uri %r" % vu)
            self.prefixes[name] = vu[1:-1]
        k, v = self.peek()
        if k == "kw" and v.upper() == "DESCRIBE":
            return self._describe_body()
        return self._query_body(subquery=False)

    def _describe_body(self) -> "Query":
        """``DESCRIBE <iri>…`` / ``DESCRIBE ?v WHERE { … }`` →
        desugared to the equivalent CONSTRUCT and re-parsed, so both
        backends inherit it for free. The description is the concise
        bounded description, which without blank nodes (this engine's
        data model) is exactly the resource's outgoing triples. The
        ``?__dp``/``?__do`` variable names are reserved."""
        self.i += 1     # DESCRIBE
        targets = []
        while self.peek()[0] in ("uri", "pname", "var"):
            targets.append(self.term())
        if not targets:
            raise SparqlError("DESCRIBE needs IRIs or a variable")
        uris = [t[1] for t in targets if t[0] == "uri"]
        tvars = [t[1] for t in targets if t[0] == "var"]
        prefix_text = "".join("PREFIX %s: <%s>\n" % (n, u)
                              for n, u in self.prefixes.items())
        rest = self.toks[self.i:-1]             # drop eof
        if tvars:
            if uris or len(tvars) > 1:
                raise SparqlError("DESCRIBE supports either IRIs or "
                                  "exactly one variable")
            if not rest or rest[0][1].upper() != "WHERE":
                raise SparqlError("DESCRIBE ?var needs a WHERE group")
            words = [v for _, v in rest]
            try:
                j = words.index("{")
            except ValueError:
                raise SparqlError("DESCRIBE ?var needs a WHERE group")
            var = tvars[0]
            words.insert(j + 1, " ?%s ?__dp ?__do . " % var)
            text = (prefix_text
                    + "CONSTRUCT { ?%s ?__dp ?__do } " % var
                    + " ".join(words))
        else:
            if rest:
                raise SparqlError("DESCRIBE <iri> takes no WHERE "
                                  "group (describe a ?var instead)")
            text = (prefix_text
                    + "CONSTRUCT { ?__ds ?__dp ?__do } WHERE { "
                    + "VALUES ?__ds { %s } "
                    % " ".join("<%s>" % u for u in uris)
                    + "?__ds ?__dp ?__do . }")
        return _Parser(text).parse()

    def _query_body(self, subquery: bool) -> Query:
        """Everything after the PREFIX block. A ``subquery`` body is
        the SELECT-only form inside ``{ … }`` (prefixes shared with
        the outer query) and stops before the closing brace instead of
        requiring eof."""
        construct = None
        construct_where = False
        ask = False
        if not subquery and self.kw("ASK"):
            ask, distinct, proj = True, False, []
        elif self.kw("CONSTRUCT"):
            if subquery:
                raise SparqlError("subqueries must be SELECT queries")
            distinct, proj = True, []
            construct = []
            k2, v2 = self.peek()
            if k2 == "kw" and v2.upper() == "WHERE":
                # CONSTRUCT WHERE { BGP } shorthand (SPARQL 1.1
                # §10.2.2): the pattern IS the template; the spec
                # restricts the body to a basic graph pattern, enforced
                # after the group parses below
                construct_where, construct = True, []
            else:
                construct = []
                self.expect_op("{")
                while self.peek()[1] != "}":
                    construct.extend(self.triples_same_subject())
                self.i += 1
                if not construct:
                    raise SparqlError("empty CONSTRUCT template")
        elif self.kw("SELECT"):
            distinct = self.kw("DISTINCT")
            proj = []
            while True:
                k, v = self.peek()
                if k == "var":
                    proj.append(v[1:]); self.i += 1
                elif v == "(":
                    # (AGG([DISTINCT] ?v | *) AS ?alias) — or a plain
                    # SELECT expression (expr AS ?alias)
                    self.i += 1
                    kf, vf = self.peek()
                    if not (kf == "kw" and vf.upper() in (
                            "COUNT", "SUM", "AVG", "MIN", "MAX",
                            "SAMPLE", "GROUP_CONCAT")):
                        e = self.expr()
                        if not self.kw("AS"):
                            raise SparqlError(
                                "SELECT expression needs AS ?alias")
                        kn, vn = self.next()
                        if kn != "var":
                            raise SparqlError(
                                "SELECT expression alias must be a var")
                        self.expect_op(")")
                        proj.append(("expr", e, vn[1:]))
                        continue
                    self.i += 1
                    func = vf.upper()
                    agg_distinct, var, sep = self._agg_args(func)
                    if not self.kw("AS"):
                        raise SparqlError("aggregate needs AS ?alias")
                    kn, vn = self.next()
                    if kn != "var":
                        raise SparqlError("aggregate alias must be a var")
                    self.expect_op(")")
                    proj.append(("agg", func, agg_distinct, var, vn[1:],
                                 sep))
                elif v == "*":
                    proj = ["*"]; self.i += 1
                    break
                else:
                    break
            if not proj:
                raise SparqlError("empty projection")
        else:
            raise SparqlError(
                "only SELECT/CONSTRUCT/ASK queries are supported")
        if not self.kw("WHERE") and not ask:    # ASK may omit WHERE
            raise SparqlError("missing WHERE")
        where = self.where_group("CONSTRUCT" if construct_where
                                 else None)
        if construct_where:
            if not where.triples:
                raise SparqlError("empty CONSTRUCT template")
            construct = list(where.triples)
        group_by: list = []
        group_exprs: list = []
        if self.kw("GROUP"):
            if not self.kw("BY"):
                raise SparqlError("GROUP without BY")
            while True:
                k, v = self.peek()
                if k == "var":
                    group_by.append(self.next()[1][1:])
                    continue
                if v == "(":
                    # (expr [AS ?alias]) — an AS alias is projectable;
                    # an anonymous key groups under a hidden name
                    self.i += 1
                    ge = self.expr()
                    if self.kw("AS"):
                        kn, vn = self.next()
                        if kn != "var":
                            raise SparqlError(
                                "GROUP BY alias must be a variable")
                        name = vn[1:]
                    else:
                        name = "__gk%d" % len(group_exprs)
                    self.expect_op(")")
                    group_exprs.append((ge, name))
                    group_by.append(name)
                    continue
                if (k == "kw" and self.peek(1)[1] == "("
                        and (v.lower() in EFunc.ARITY
                             or v.lower() in ("concat", "coalesce",
                                              "if", "str"))) \
                        or (k == "pname" and self.peek(1)[1] == "("):
                    # bare function-call key (no alias) — hidden name
                    ge = self.expr()
                    name = "__gk%d" % len(group_exprs)
                    group_exprs.append((ge, name))
                    group_by.append(name)
                    continue
                break
            if not group_by:
                raise SparqlError("empty GROUP BY")
        having = None
        if self.kw("HAVING"):
            self._in_having = True
            try:
                having = self.expr()   # expr() consumes its own parens
            finally:
                self._in_having = False
            aliases = {p[4] for p in proj
                       if not isinstance(p, str) and p[0] == "agg"}
            hidden = {a[4] for a in self._having_aggs}
            if not group_by and not aliases and not hidden:
                raise SparqlError("HAVING without GROUP BY/aggregates")
            loose = _expr_vars(having) - set(group_by) - aliases
            if loose:
                raise SparqlError(
                    "HAVING may only reference GROUP BY variables, "
                    "aggregate aliases and inline aggregates, not %s"
                    % sorted(loose))
        if proj != ["*"]:
            plain = [p for p in proj if isinstance(p, str)]
            has_agg = any(not isinstance(p, str) and p[0] == "agg"
                          for p in proj) or bool(self._having_aggs)
            if (has_agg or group_by) and set(plain) - set(group_by):
                raise SparqlError(
                    "non-aggregated vars %s must appear in GROUP BY"
                    % sorted(set(plain) - set(group_by)))
            if has_agg or group_by:
                # SELECT expressions under aggregation may only use
                # group keys (evaluated on the grouped output)
                for p in proj:
                    if not isinstance(p, str) and p[0] == "expr":
                        loose = _expr_vars(p[1]) - set(group_by)
                        if loose:
                            raise SparqlError(
                                "SELECT expression over non-grouped "
                                "vars %s" % sorted(loose))
        order: list = []
        if self.kw("ORDER"):
            if not self.kw("BY"):
                raise SparqlError("ORDER without BY")
            while True:
                k, v = self.peek()
                if k == "kw" and v.upper() in ("ASC", "DESC"):
                    # ASC/DESC(expr) — a full expression is legal
                    # (aggregate calls included, hoisted like HAVING's
                    # — ORDER BY DESC(COUNT(?x))); a bare variable
                    # keeps the name-based fast path
                    desc = v.upper() == "DESC"
                    self.i += 1
                    self.expect_op("(")
                    self._in_having = True
                    try:
                        oe = self.expr()
                    finally:
                        self._in_having = False
                    self.expect_op(")")
                    order.append((oe.name if isinstance(oe, EVar)
                                  else oe, desc))
                elif k == "var":
                    order.append((v[1:], False)); self.i += 1
                elif v == "(" or (k in ("kw", "pname")
                                  and self.peek(1)[1] == "("
                                  and v.upper() not in ("LIMIT",
                                                        "OFFSET")):
                    # bare ORDER BY expression: (…) or a function call
                    self._in_having = True
                    try:
                        oe = self.expr()
                    finally:
                        self._in_having = False
                    order.append((oe.name if isinstance(oe, EVar)
                                  else oe, False))
                else:
                    break
            if self._having_aggs and not group_by and (
                    proj == ["*"] or any(isinstance(p, str)
                                         for p in proj)):
                raise SparqlError(
                    "an aggregate sort key needs GROUP BY when "
                    "non-aggregated variables are projected")
        limit = offset = None
        while True:     # LIMIT/OFFSET accepted in either order
            if limit is None and self.kw("LIMIT"):
                k, v = self.next()
                if k != "num":
                    raise SparqlError("LIMIT needs a number")
                limit = int(v)
                continue
            if offset is None and self.kw("OFFSET"):
                k, v = self.next()
                if k != "num":
                    raise SparqlError("OFFSET needs a number")
                offset = int(v)
                continue
            break
        if not subquery and self.kw("VALUES"):
            # postfix VALUES clause (SPARQL 1.1 grammar: ValuesClause
            # closes every query form): sugar for the same block inside
            # the group pattern — joined before projection/aggregation
            # exactly like the inline form
            where.values.append(self.values_block())
        if subquery:
            if proj == ["*"]:
                raise SparqlError(
                    "subqueries need an explicit projection")
        elif self.peek()[0] != "eof":
            raise SparqlError("trailing tokens at %r" % (self.peek(),))
        if construct is not None and (order or limit is not None
                                      or offset is not None):
            raise SparqlError("ORDER/LIMIT on CONSTRUCT is not supported")
        if ask and (order or limit is not None or offset is not None
                    or group_by):
            raise SparqlError("ORDER/LIMIT/GROUP BY on ASK is not valid")
        if offset and not order:
            raise SparqlError("OFFSET without ORDER BY is not "
                              "deterministic; add an ORDER BY")
        q = Query(distinct, proj, where, order, limit, construct,
                  group_by, ask, offset, having)
        q.having_aggs = list(self._having_aggs)
        self._having_aggs.clear()
        q.group_exprs = group_exprs
        return q

    def where_group(self, bgp_only: str | None = None) -> Group:
        """A WHERE ``{ … }`` group, with the isUri/lang/datatype FILTER
        conjuncts of every nested group pushed into its scans. With
        ``bgp_only`` (the query form's name) anything but a basic
        graph pattern is rejected — CONSTRUCT WHERE / DELETE WHERE."""
        g = self.group()
        if bgp_only and (
                g.unions or g.optionals or g.filters or g.binds
                or g.values or g.exists or g.minus or g.subqueries
                or any(t.p[0] not in ("uri", "var") for t in g.triples)):
            raise SparqlError("%s WHERE allows only a basic graph "
                              "pattern without property paths" % bgp_only)
        for sub in _walk(g):
            _rewrite_istype(sub)
        return g

    def group(self) -> Group:
        self.expect_op("{")
        g = Group()
        while True:
            k, v = self.peek()
            if v == "}":
                self.i += 1
                return g
            if v == "{":
                # { SELECT … } — a subquery (evaluated independently,
                # joined on its projected variables)
                k2, v2 = self.toks[self.i + 1]
                if k2 == "kw" and v2.upper() == "SELECT":
                    self.i += 1
                    g.subqueries.append(self._query_body(subquery=True))
                    self.expect_op("}")
                    continue
                # { alt1 } UNION { alt2 } [UNION { alt3 }…] — each
                # alternative parses through group_alts(), so UNIONs
                # nested inside an alternative flatten into this same
                # list (disjunctive normal form)
                alts = list(self.group_alts())
                while self.kw("UNION"):
                    alts.extend(self.group_alts())
                if len(alts) == 1:
                    # a plain nested group is just inlined (any depth)
                    _merge_into(g, alts[0])
                else:
                    g.unions.append(alts)
                continue
            if k == "kw" and v.upper() == "OPTIONAL":
                # both group compilers LEFT-JOIN g.optionals, at the
                # top level and recursively inside every sub-group
                self.i += 1
                g.optionals.append(_union_body(self.group_alts()))
                continue
            if k == "kw" and v.upper() == "MINUS":
                # a UNION inside the MINUS body splits into multiple
                # MINUS entries: MINUS {A UNION B} removes solutions
                # compatible with either, exactly what two successive
                # anti-joins compute (set semantics)
                self.i += 1
                g.minus.extend(self.group_alts())
                continue
            if k == "kw" and v.upper() == "FILTER":
                self.i += 1
                parens = self.peek()[1] == "("
                if parens:
                    self.i += 1
                # FILTER [NOT] EXISTS { … } — the statement-level
                # form, compiled to a semi/anti join — but ONLY when
                # the EXISTS block IS the whole filter; composed uses
                # (EXISTS{…} || x) flow through the expression grammar
                # as hoisted markers (EExistsMarker)
                kn, vn = self.peek()
                if kn == "kw" and vn.upper() in ("EXISTS", "NOT") \
                        and self._exists_statement_level(parens):
                    positive = vn.upper() == "EXISTS"
                    self.i += 1
                    if not positive and not self.kw("EXISTS"):
                        raise SparqlError("expected NOT EXISTS")
                    # NOT EXISTS {A UNION B} ≡ NOT EXISTS A AND NOT
                    # EXISTS B (De Morgan) → one anti-join each;
                    # positive EXISTS {A UNION B} ≡ one semi-join
                    # against the aligned union of the alternatives
                    # (a union_alts wrapper, like OPTIONAL bodies)
                    ealts = self.group_alts()
                    if positive:
                        g.exists.append((True, _union_body(ealts)))
                    else:
                        for ea in ealts:
                            g.exists.append((positive, ea))
                else:
                    e = self.expr()
                    self._drain_markers(g)
                    g.filters.append(e)
                if parens:
                    self.expect_op(")")
                continue
            if k == "kw" and v.upper() == "GRAPH":
                # GRAPH <ctx> { … }: stamp the context on every scan
                # of the inner (simple) group, then inline it
                self.i += 1
                ctx = self.term()
                if ctx[0] not in ("uri", "var"):
                    raise SparqlError("GRAPH needs a URI or variable "
                                      "context")
                sub = self.simple_group()
                if (sub.optionals or sub.minus or sub.exists
                        or sub.values or sub.subqueries):
                    raise SparqlError("GRAPH supports only triples/"
                                      "FILTER/BIND in its body")
                for t in sub.triples:
                    if ctx[0] == "uri":
                        t.graph = ctx[1]
                    else:
                        # paths under GRAPH ?var compile to a
                        # closure keyed on the graph in both backends
                        t.graph_var = ctx[1]
                g.triples.extend(sub.triples)
                g.filters.extend(sub.filters)
                g.binds.extend(sub.binds)
                continue
            if k == "kw" and v.upper() == "BIND":
                self.i += 1
                self.expect_op("(")
                e = self.expr()
                if not self.kw("AS"):
                    raise SparqlError("BIND needs AS ?var")
                kn, vn = self.next()
                if kn != "var":
                    raise SparqlError("BIND target must be a variable")
                self.expect_op(")")
                self._drain_markers(g)
                g.binds.append((e, vn[1:]))
                continue
            if k == "kw" and v.upper() == "VALUES":
                self.i += 1
                g.values.append(self.values_block())
                continue
            g.triples.extend(self.triples_same_subject())

    def values_block(self):
        """``VALUES ?v { t… }`` or ``VALUES (?a ?b) { (ta tb)… }`` →
        (var-names, [row-tuples]); each row value is a term tuple or
        None (the UNDEF keyword)."""
        def row_term(self):
            k, v = self.peek()
            if k == "kw" and v.upper() == "UNDEF":
                self.i += 1
                return None
            return self.term()
        if self.peek()[1] == "(":
            self.i += 1
            names = []
            while self.peek()[0] == "var":
                names.append(self.next()[1][1:])
            self.expect_op(")")
            if not names:
                raise SparqlError("empty VALUES variable list")
            self.expect_op("{")
            rows = []
            while self.peek()[1] != "}":
                self.expect_op("(")
                row = tuple(row_term(self) for _ in names)
                self.expect_op(")")
                rows.append(row)
            self.i += 1
        else:
            k, v = self.next()
            if k != "var":
                raise SparqlError("VALUES needs ?var or (?var…)")
            names = [v[1:]]
            self.expect_op("{")
            rows = []
            while self.peek()[1] != "}":
                rows.append((row_term(self),))
            self.i += 1
        if not rows:
            raise SparqlError("empty VALUES block")
        return (names, rows)

    def group_alts(self) -> list:
        """Parse a braced group where UNION may appear at any depth;
        returns its disjunctive normal form (see _dnf), so nested
        UNIONs flatten into the same union machinery both backends
        already compile."""
        return _dnf(self.group())

    def simple_group(self) -> Group:
        alts = self.group_alts()
        if len(alts) != 1:
            raise SparqlError("UNION is not supported in this group "
                              "position")
        return alts[0]

    def path_mod(self):
        """``*`` | ``+`` | ``{m,n}`` / ``{,n}`` (bounded quantifier, the
        reference's prop-annotations.rq uses ``{,1}``) after a URI
        predicate → "*" | "+" | (m, n) tuple; None when absent."""
        if self.peek()[1] in ("*", "+"):
            return self.next()[1]
        if self.peek()[1] == "{":
            self.i += 1
            m = 0
            if self.peek()[0] == "num":
                m = int(self.next()[1])
            self.expect_op(",")
            kn, vn = self.next()
            if kn != "num":
                raise SparqlError("path quantifier needs an upper bound")
            n = int(vn)
            self.expect_op("}")
            if n < max(m, 1):
                raise SparqlError("bad path quantifier {%d,%d}" % (m, n))
            return (m, n)
        return None

    def _iri(self) -> str:
        t = self.term()
        if t[0] != "uri":
            raise SparqlError("expected an IRI in a property path, "
                              "got %r" % (t,))
        return t[1]

    def pred(self) -> tuple:
        """Predicate position: a single path element, or a sequence
        path ``e1/e2/…`` of them → ``("seq", ((term, inv), …)), False``
        (desugared by the caller into a fresh-variable triple chain —
        the SPARQL-spec translation ``X p1/p2 Y ≡ X p1 ?v . ?v p2 Y``,
        which preserves multiset semantics). ``^`` binds tighter than
        ``/``, so ``^p1/p2`` is ``(^p1)/p2`` per the grammar."""
        p, inv = self._pred_elem()
        if self.peek()[1] != "/":
            return p, inv
        elems = [(p, inv)]
        while self.peek()[1] == "/":
            self.i += 1
            elems.append(self._pred_elem())
        for pe, _ in elems:
            if pe[0] == "var":
                raise SparqlError("sequence path elements must be "
                                  "IRIs or paths, not variables")
        return ("seq", tuple(elems)), False

    def _pred_elem(self) -> tuple:
        """One path element: URI / var / ``a`` / alternation
        ``(p1|p2)`` / negated property set ``!p`` | ``!(p1|p2)``, with
        an optional leading ``^`` (inverse path — the triple is stored
        with subject/object swapped) and optional trailing path
        quantifier (URI and alternation forms). → (term, inverted)."""
        inv = self.peek()[1] == "^"
        if inv:
            self.i += 1
        if self.peek()[1] == "!":
            self.i += 1
            if self.peek()[1] == "(":
                self.i += 1
                uris = [self._iri()]
                while self.peek()[1] == "|":
                    self.i += 1
                    uris.append(self._iri())
                self.expect_op(")")
            else:
                uris = [self._iri()]
            mod = self.path_mod()
            if mod is not None:
                # !(p1|p2)+ — closure over the complement edge set;
                # the "!" marker flips pred_cond/pc to NOT IN
                return ("path", ("!",) + tuple(uris), mod), inv
            return ("negset", tuple(uris)), inv
        if self.peek()[1] == "(":
            self.i += 1
            uris = [self._iri()]
            while self.peek()[1] == "|":
                self.i += 1
                uris.append(self._iri())
            self.expect_op(")")
            mod = self.path_mod()
            if mod is not None:
                return ("path", tuple(uris), mod), inv
            return ("alt", tuple(uris)), inv
        p = self.term()
        if p[0] == "uri":
            mod = self.path_mod()
            if mod is not None:
                p = ("path", p[1], mod)
        elif inv:
            raise SparqlError("^ needs a URI predicate or property "
                              "path")
        return p, inv

    def triples_same_subject(self) -> list:
        """``s p1 o1 ; p2 o2a, o2b .`` → expanded triple list (Turtle
        predicate-object and object lists; the shape the reference's
        rfc-annotations.rq uses)."""
        out = []
        s = self.term()
        while True:
            p, inv = self.pred()
            while True:
                o = self.term()
                if p[0] == "seq":
                    # fresh-variable chain, one per object term; the
                    # internal vars are excluded from SELECT *
                    cur = s
                    elems = p[1]
                    for j, (pe, pinv) in enumerate(elems):
                        nxt = (o if j == len(elems) - 1 else
                               ("var", self._fresh_seq_var()))
                        out.append(Triple(nxt, pe, cur) if pinv
                                   else Triple(cur, pe, nxt))
                        cur = nxt
                else:
                    out.append(Triple(o, p, s) if inv
                               else Triple(s, p, o))
                if self.peek()[1] == ",":
                    self.i += 1
                    continue
                break
            if self.peek()[1] == ";":
                self.i += 1
                if self.peek()[1] in (".", "}"):   # dangling ;
                    break
                continue
            break
        if self.peek()[1] == ".":
            self.i += 1
        return out

    def term(self) -> tuple:
        k, v = self.next()
        if k == "var":
            return ("var", v[1:])
        if k == "uri":
            return ("uri", v[1:-1])
        if k == "pname":
            pfx, local = v.split(":", 1)
            if pfx == "_":
                # blank node _:label — in a WHERE pattern it behaves
                # as a fresh non-projectable variable (spec 4.1.4,
                # mapped in _scan_spec); in a CONSTRUCT template it
                # mints a per-solution node (see the construct
                # emitters)
                return ("bnode", local)
            if pfx not in self.prefixes:
                raise SparqlError("unknown prefix %r" % pfx)
            return ("uri", self.prefixes[pfx] + local)
        if k == "kw" and v == "a":
            return ("uri", RDF_TYPE)
        if k == "str":
            lit = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            lang = None
            if self.peek()[0] == "lang":
                lang = self.next()[1][1:]
            if self.peek()[1] == "^^":
                # "..."^^<datatype> typed literal; xsd:dateTime /
                # xsd:date get timeline comparison semantics in ECmp,
                # any other datatype stays a plain lexical literal
                # with its datatype recorded for scan constraints
                self.i += 1
                dt = self.term()
                if dt[0] != "uri":
                    raise SparqlError("^^ needs a datatype IRI")
                if lang is not None:
                    raise SparqlError("a literal cannot carry both "
                                      "@lang and ^^datatype")
                return ("dtlit", lit, dt[1])
            return ("lit", lit, lang)
        if k == "num":
            return ("num", v)
        raise SparqlError("bad term %r" % v)

    # expression grammar: or → and → unary → primary
    def expr(self) -> Expr:
        e = self.expr_and()
        while self.peek()[1] == "||":
            self.i += 1
            e = EBool("||", e, self.expr_and())
        return e

    def expr_and(self) -> Expr:
        e = self.expr_unary()
        while self.peek()[1] == "&&":
            self.i += 1
            e = EBool("&&", e, self.expr_unary())
        return e

    def expr_unary(self) -> Expr:
        if self.peek()[1] == "!":
            self.i += 1
            return ENot(self.expr_unary())
        return self.expr_rel()

    def expr_rel(self) -> Expr:
        left = self.expr_add()
        k, v = self.peek()
        if k == "kw" and v.upper() == "NOT" \
                and self.peek(1)[1].upper() == "IN":
            # ?x NOT IN (…) — spec-equivalent to !(?x IN (…)) under
            # the subset's NULL rules: an unbound/uncoercible left
            # side yields NULL, NOT(NULL) stays NULL, and the FILTER
            # drops it in both engines (the error-is-unbound rule)
            self.i += 2
            self.expect_op("(")
            items = [EConst(self.term())]
            while self.peek()[1] == ",":
                self.i += 1
                items.append(EConst(self.term()))
            self.expect_op(")")
            if not isinstance(left, EVar):
                raise SparqlError("NOT IN needs a variable on the left")
            return ENot(EIn(left, items))
        if k == "kw" and v.upper() == "IN":
            if not isinstance(left, EVar):
                raise SparqlError("IN needs a variable on the left")
            self.i += 1
            self.expect_op("(")
            items = [EConst(self.term())]
            while self.peek()[1] == ",":
                self.i += 1
                items.append(EConst(self.term()))
            self.expect_op(")")
            return EIn(left, items)
        if v in ("=", "!=", "<", "<=", ">", ">="):
            self.i += 1
            return ECmp(v, left, self.expr_add())
        return left

    def expr_add(self) -> Expr:
        e = self.expr_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            e = EArith(op, e, self.expr_mul())
        return e

    def expr_mul(self) -> Expr:
        e = self.expr_primary()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            e = EArith(op, e, self.expr_primary())
        return e

    AGG_FUNCS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE",
                 "GROUP_CONCAT")

    def _agg_args(self, func: str):
        """Parse an aggregate call's argument list — after the
        function keyword: ``([DISTINCT] expr|*) [; SEPARATOR="…"]``.
        → (distinct, var_name_or_Expr_or_None, separator)."""
        self.expect_op("(")
        agg_distinct = self.kw("DISTINCT")
        if self.peek()[1] == "*":
            self.i += 1
            var = None
            if func != "COUNT":
                raise SparqlError("%s(*) is not valid" % func)
        else:
            # full expression argument — SUM(?price * ?qty) etc.; a
            # bare variable keeps its name (the compilers' fast path)
            ae = self.expr()
            var = ae.name if isinstance(ae, EVar) else ae
            if agg_distinct and not isinstance(var, str) \
                    and func in ("SUM", "AVG"):
                raise SparqlError(
                    "%s(DISTINCT expr) supports only a "
                    "plain variable argument" % func)
        sep = None
        if func == "GROUP_CONCAT":
            sep = " "               # SPARQL 1.1 default separator
            if self.peek()[1] == ";":
                self.i += 1
                if not self.kw("SEPARATOR"):
                    raise SparqlError(
                        "GROUP_CONCAT(…; expects SEPARATOR")
                self.expect_op("=")
                ks, vs = self.next()
                if ks != "str":
                    raise SparqlError("SEPARATOR needs a string")
                sep = vs[1:-1]
        self.expect_op(")")
        return agg_distinct, var, sep

    def _exists_expr(self, positive: bool) -> Expr:
        """EXISTS { … } in expression position: parse the body, hoist
        it as a marker (drained into the enclosing group by the
        FILTER/BIND branches), return the marker-reading node. A UNION
        body wraps in union_alts — EXISTS(A∪B) = EXISTS A OR EXISTS B,
        and NOT applies to the combined marker (De Morgan via boolean
        negation)."""
        name = "__exm%d" % self._exm_n
        self._exm_n += 1
        self._pending_markers.append((name,
                                      _union_body(self.group_alts())))
        return EExistsMarker(name, positive)

    def _drain_markers(self, g: Group) -> None:
        g.exists_markers.extend(self._pending_markers)
        self._pending_markers.clear()

    def _exists_statement_level(self, parens: bool) -> bool:
        """Lookahead (no consumption): does the [NOT] EXISTS block at
        the cursor constitute the WHOLE filter? Brace-count to the
        body's matching '}' — statement-level iff the next token is
        the filter's closing ')' (or the filter was unparenthesized,
        where composition is not legal syntax anyway)."""
        j = self.i
        if self.toks[j][1].upper() == "NOT":
            j += 1
            if j >= len(self.toks) or \
                    self.toks[j][1].upper() != "EXISTS":
                return False
        j += 1          # past EXISTS
        if j >= len(self.toks) or self.toks[j][1] != "{":
            return False
        depth = 0
        while j < len(self.toks):
            t = self.toks[j][1]
            if t == "{":
                depth += 1
            elif t == "}":
                depth -= 1
                if depth == 0:
                    j += 1
                    break
            j += 1
        if not parens:
            return True
        return j < len(self.toks) and self.toks[j][1] == ")"

    def expr_primary(self) -> Expr:
        k, v = self.peek()
        if k == "kw" and v.upper() in self.AGG_FUNCS \
                and self.peek(1)[1] == "(":
            if not self._in_having:
                raise SparqlError(
                    "aggregate %s() is only legal in the projection "
                    "or HAVING" % v.upper())
            func = v.upper()
            self.i += 1
            dist, var, sep = self._agg_args(func)
            alias = "__hagg%d" % self._hagg_n
            self._hagg_n += 1
            self._having_aggs.append(("agg", func, dist, var, alias,
                                      sep))
            return EAggRef(alias)
        if k == "kw" and v.upper() == "EXISTS" and self.peek(1)[1] == "{":
            self.i += 1
            return self._exists_expr(True)
        if k == "kw" and v.upper() == "NOT" \
                and self.peek(1)[1].upper() == "EXISTS" \
                and self.peek(2)[1] == "{":
            self.i += 2
            return self._exists_expr(False)
        if v == "(":
            # parenthesized sub-expression: full boolean grammar
            # inside, and the value can keep composing arithmetically
            # outside — "(?a + 1) * 2" and "(?a = 1) && ?b" both parse
            self.i += 1
            e = self.expr()
            self.expect_op(")")
            return e
        if k == "pname" and self.peek(1)[1] == "(":
            # prefixed-name function call = an XPath constructor cast
            # (SPARQL 17.5): xsd:integer(?v) etc.
            pfx, local = v.split(":", 1)
            if pfx not in self.prefixes:
                raise SparqlError("unknown prefix %r" % pfx)
            uri = self.prefixes[pfx] + local
            if not (uri == "http://www.w3.org/2001/XMLSchema#" + local
                    and local in ECast.KINDS):
                raise SparqlError("unsupported function <%s>" % uri)
            self.i += 1
            self.expect_op("(")
            arg = self.expr()
            self.expect_op(")")
            return ECast(local, arg)
        if k == "kw" and v.lower() == "regex":
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            if kv != "var":
                raise SparqlError("regex needs a variable")
            self.expect_op(",")
            kp, vp = self.next()
            if kp != "str":
                raise SparqlError("regex needs a string pattern")
            self.expect_op(")")
            return ERegex(EVar(vv[1:]), vp[1:-1])
        if k == "kw" and v.lower() == "bound":
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            self.expect_op(")")
            return EBound(EVar(vv[1:]))
        if k == "kw" and v.lower() == "strstarts":
            self.i += 1
            self.expect_op("(")
            left = self.expr()
            self.expect_op(",")
            right = self.expr()
            self.expect_op(")")
            return EStrStarts(left, right)
        if k == "kw" and v.lower() == "lang":
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            if kv != "var":
                raise SparqlError("lang needs a variable")
            self.expect_op(")")
            return ELang(EVar(vv[1:]))
        if k == "kw" and v.lower() == "langmatches":
            # langMatches(lang(?v), "range") — the only accepted shape
            # (the subset's lang() is itself scan-pushed, so a general
            # first argument has nothing to bind to)
            self.i += 1
            self.expect_op("(")
            inner = self.expr()
            if not isinstance(inner, ELang):
                raise SparqlError(
                    "langMatches needs lang(?v) as its first argument")
            self.expect_op(",")
            kr, vr = self.next()
            if kr != "str":
                raise SparqlError(
                    "langMatches needs a string language range")
            rng = vr[1:-1]
            if rng != "*" and not re.fullmatch(r"[A-Za-z0-9-]+", rng):
                raise SparqlError("bad language range %r" % rng)
            self.expect_op(")")
            return ELangMatches(inner.var, rng)
        if k == "kw" and v.lower() == "datatype":
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            if kv != "var":
                raise SparqlError("datatype needs a variable")
            self.expect_op(")")
            return EDatatype(EVar(vv[1:]))
        if k == "kw" and v.lower() in ("isuri", "isiri", "isliteral"):
            kind = "literal" if v.lower() == "isliteral" else "uri"
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            if kv != "var":
                raise SparqlError("%s needs a variable" % v)
            self.expect_op(")")
            return EIsType(EVar(vv[1:]), kind)
        if k == "kw" and v.lower() == "isnumeric":
            self.i += 1
            self.expect_op("(")
            arg = self.expr()
            self.expect_op(")")
            return EIsNumeric(arg)
        if k == "kw" and v.lower() == "sameterm":
            self.i += 1
            self.expect_op("(")
            left = self.expr()
            self.expect_op(",")
            right = self.expr()
            self.expect_op(")")
            return ESameTerm(left, right)
        if k == "kw" and v.lower() in EFunc.ARITY:
            name = v.lower()
            self.i += 1
            self.expect_op("(")
            args = [self.expr()]
            while self.peek()[1] == ",":
                self.i += 1
                args.append(self.expr())
            self.expect_op(")")
            allowed = EFunc.ARITY[name]
            if isinstance(allowed, int):
                allowed = (allowed,)
            if len(args) not in allowed:
                raise SparqlError("%s() takes %s arguments"
                                  % (name.upper(),
                                     "/".join(map(str, allowed))))
            return EFunc(name, args)
        if k == "kw" and v.lower() == "concat":
            self.i += 1
            self.expect_op("(")
            parts = [self.expr()]
            while self.peek()[1] == ",":
                self.i += 1
                parts.append(self.expr())
            self.expect_op(")")
            return EConcat(parts)
        if k == "kw" and v.lower() == "if":
            self.i += 1
            self.expect_op("(")
            cond = self.expr()
            self.expect_op(",")
            then = self.expr()
            self.expect_op(",")
            other = self.expr()
            self.expect_op(")")
            return EIf(cond, then, other)
        if k == "kw" and v.lower() == "coalesce":
            self.i += 1
            self.expect_op("(")
            parts = [self.expr()]
            while self.peek()[1] == ",":
                self.i += 1
                parts.append(self.expr())
            self.expect_op(")")
            if len(parts) < 1:
                raise SparqlError("COALESCE needs arguments")
            return ECoalesce(parts)
        if k == "kw" and v.lower() == "str":
            # str(?v) — identity here: objects are stored as strings
            self.i += 1
            self.expect_op("(")
            kv, vv = self.next()
            self.expect_op(")")
            return EVar(vv[1:])
        if k == "var":
            self.i += 1
            return EVar(v[1:])
        return EConst(self.term())


class _Env(dict):
    """Variable→(Column, sql-text) environment; a miss is a query
    error (a FILTER/BIND referencing a variable not bound in its own
    group — SPARQL evaluates groups bottom-up, so outer bindings are
    not visible inside OPTIONAL/UNION/EXISTS bodies), reported as
    SparqlError instead of a raw KeyError."""

    def __missing__(self, key):
        raise SparqlError("?%s is not bound in the group where it is "
                          "used (group-scoped evaluation)" % key)


def _expr_vars(e: Expr) -> set:
    """All variable names referenced anywhere in an expression AST."""
    import dataclasses
    if isinstance(e, EVar):
        return {e.name}
    out: set = set()
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        for item in (v if isinstance(v, list) else [v]):
            if isinstance(item, Expr):
                out |= _expr_vars(item)
    return out


def _split_conj(e: Expr) -> list:
    if isinstance(e, EBool) and e.op == "&&":
        return _split_conj(e.left) + _split_conj(e.right)
    return [e]


def _rewrite_istype(g: Group) -> None:
    """Split each FILTER into && conjuncts; turn isUri/isLiteral
    conjuncts (plain or negated — objects in the triple model are
    exactly uri or literal, so NOT flips the kind) into objtype
    constraints on every scan binding the variable at object position.
    Both backends read the constraint from _scan_spec, so the pushdown
    cannot diverge between them."""
    kept = []
    for f in g.filters:
        for c in _split_conj(f):
            m = None
            if isinstance(c, EIsType):
                m = (c.var.name, c.kind)
            elif isinstance(c, ENot) and isinstance(c.inner, EIsType):
                m = (c.inner.var.name,
                     "literal" if c.inner.kind == "uri" else "uri")
            lm = None   # lang(?v) = "tag" conjunct → (var, tag)
            dt = None   # datatype(?v) = <uri> conjunct → (var, uri)
            if (m is None and isinstance(c, ECmp) and c.op == "="):
                for a, b in ((c.left, c.right), (c.right, c.left)):
                    if isinstance(a, ELang) and isinstance(b, EConst) \
                            and not b.numeric:
                        lm = (a.var.name, b.term[1])
                    elif isinstance(a, EDatatype) \
                            and isinstance(b, EConst) \
                            and b.term[0] == "uri":
                        dt = (a.var.name, b.term[1])
            lr = None   # langMatches conjunct → (var, range)
            if isinstance(c, ELangMatches):
                lr = (c.var.name, c.range)
            if m is None and lm is None and lr is None and dt is None:
                kept.append(c)
                continue
            var = (m or lm or lr or dt)[0]
            hits = [t for t in g.triples
                    if t.o == ("var", var) and t.p[0] != "path"]
            if not hits:
                raise SparqlError(
                    "isUri/isLiteral/lang/langMatches/datatype needs "
                    "?%s bound at an object "
                    "position in the same group" % var)
            for t in hits:
                if m is not None:
                    kind = m[1]
                    if t.o_objtype and t.o_objtype != kind:
                        raise SparqlError(
                            "contradictory isUri/isLiteral on ?%s" % var)
                    t.o_objtype = kind
                elif lm is not None:
                    if t.o_lang and t.o_lang != lm[1]:
                        raise SparqlError(
                            "contradictory lang() on ?%s" % var)
                    t.o_lang = lm[1]
                elif lr is not None:
                    if t.o_langrange and t.o_langrange != lr[1]:
                        raise SparqlError(
                            "contradictory langMatches() on ?%s" % var)
                    t.o_langrange = lr[1]
                else:
                    if t.o_datatype and t.o_datatype != dt[1]:
                        raise SparqlError(
                            "contradictory datatype() on ?%s" % var)
                    t.o_datatype = dt[1]
    g.filters = kept


def parse(text: str) -> Query:
    return _Parser(text).parse()


def _proj_alias(p) -> str:
    """Output column name of one projection item (var name, aggregate
    alias, or SELECT-expression alias)."""
    if isinstance(p, str):
        return p
    return p[4] if p[0] == "agg" else p[2]


# ------------------------------------------------------------- planning

_POS = ("s", "subject"), ("p", "predicate"), ("o", "object")


def _pattern_vars(t: Triple) -> set:
    vs = {term[1] for term in (t.s, t.p, t.o) if term[0] == "var"}
    if t.graph_var:
        vs.add(t.graph_var)
    return vs


def _order_patterns(triples: list) -> list:
    """Greedy most-bound-first join order over connected patterns: the
    scan with the most constants anchors the plan; each next pattern
    must share a variable with the bound set when possible (avoids
    accidental cross joins), ties broken by constant count then by
    original position (stable)."""
    def score(t: Triple) -> int:
        # subject consts are the most selective, object consts next; an
        # rdf:type predicate const is near-worthless (huge fan-out),
        # and a negated property set is barely a constraint at all
        s = 3 * (t.s[0] != "var") + 2 * (t.o[0] != "var")
        if t.p[0] in ("uri", "path", "alt") and t.p[1] != RDF_TYPE:
            s += 1
        return s

    remaining = list(enumerate(triples))
    nconst = {i: score(t) for i, t in remaining}
    ordered, bound = [], set()
    while remaining:
        connected = [(i, t) for i, t in remaining
                     if not bound or (_pattern_vars(t) & bound)]
        pool = connected or remaining
        i, t = max(pool, key=lambda it: (nconst[it[0]], -it[0]))
        ordered.append(t)
        bound |= _pattern_vars(t)
        remaining = [(j, u) for j, u in remaining if j != i]
    return ordered


def _scan_spec(t: Triple, alias: str):
    """→ (constant filters [(col, value)], var projection {var: col},
    intra-pattern equalities [(col, col)],
    set filters [(col, values, positive)] — predicate alternation /
    negated property sets,
    extras [(kind, value)] — non-equality scan constraints the two
    backends compile from one shared spec: ``("langmatch", range)``
    RFC 4647 basic filtering, ``("nolang", None)`` untagged-literal
    (lang(?v) = ""), ``("dtype", uri)`` datatype constraint with the
    spec's xsd:string / rdf:langString mappings)."""
    consts, varcols, intra, sets, extras = [], {}, [], [], []
    for (short, col), term in zip(_POS, (t.s, t.p, t.o)):
        if term[0] == "bnode":
            # a blank node in a pattern is a fresh scoped variable
            # (spec 4.1.4); the __bn_ prefix keeps it out of SELECT *
            term = ("var", "__bn_" + term[1])
        if term[0] == "dtlit":
            # typed literal in object position: value + datatype
            # constraints (subject/predicate can't be literals), the
            # datatype through the spec's xsd:string mapping
            if col != "object":
                raise SparqlError("typed literals are only legal in "
                                  "object position")
            consts.append((col, term[1]))
            consts.append(("objtype", "literal"))
            extras.append(("dtype", term[2]))
            continue
        if term[0] == "var":
            if term[1] in varcols:
                intra.append((varcols[term[1]], col))
            else:
                varcols[term[1]] = col
        elif term[0] == "uri":
            consts.append((col, term[1]))
            if col == "object":
                consts.append(("objtype", "uri"))
        elif term[0] == "alt":     # (p1|p2) → predicate IN
            sets.append((col, term[1], True))
        elif term[0] == "negset":  # !p / !(p1|p2) → predicate NOT IN
            sets.append((col, term[1], False))
        elif term[0] == "lit":
            consts.append((col, term[1]))
            consts.append(("objtype", "literal"))
            if term[2]:
                consts.append(("lang", term[2]))
        else:   # num — objects are stored as strings
            consts.append((col, term[1]))
    if t.o_objtype and t.o[0] == "var":
        consts.append(("objtype", t.o_objtype))
    if t.o_lang is not None and t.o[0] == "var":
        if t.o_lang == "":
            # lang(?v) = "" — the spec's untagged-literal test; the
            # table stores absent tags as NULL
            extras.append(("nolang", None))
        else:
            consts.append(("lang", t.o_lang))
    if t.o_langrange and t.o[0] == "var":
        extras.append(("langmatch", t.o_langrange))
    if t.o_datatype and t.o[0] == "var":
        # datatype() is only defined on literals (an error — hence an
        # unbound row — on URIs, so the constraint drops them)
        if ("objtype", "literal") not in consts:
            consts.append(("objtype", "literal"))
        extras.append(("dtype", t.o_datatype))
    if t.graph:
        consts.append(("context", t.graph))
    elif t.graph_var:
        # GRAPH ?g: the spec quantifies over NAMED graphs, so rows
        # with no context (the default graph's NULL/'' encoding) are
        # excluded, and ?g binds to the context column — joins across
        # patterns sharing ?g then enforce same-graph co-location
        extras.append(("named", None))
        if t.graph_var in varcols:
            intra.append((varcols[t.graph_var], "context"))
        else:
            varcols[t.graph_var] = "context"
    return consts, varcols, intra, sets, extras


def _extra_spark(kind: str, val):
    """One _scan_spec extra → a Spark Column condition (the SQL twin
    below mirrors every branch; keep them in lockstep)."""
    if kind == "nolang":
        return F.col("lang").isNull() | (F.col("lang") == "")
    if kind == "named":     # GRAPH ?var — named graphs only
        return F.col("context").isNotNull() & (F.col("context") != "")
    if kind == "langmatch":
        if val == "*":
            return F.col("lang").isNotNull() & (F.col("lang") != "")
        low = val.lower()
        return (F.lower(F.col("lang")) == low) \
            | F.lower(F.col("lang")).startswith(low + "-")
    # dtype — spec mappings onto the table's NULL encodings: a simple
    # literal (no tag, no datatype) IS xsd:string; a tagged literal IS
    # rdf:langString; anything else matches its stored datatype URI
    if val == XSD_STRING:
        return ((F.col("datatype").isNull() | (F.col("datatype") == ""))
                & (F.col("lang").isNull() | (F.col("lang") == ""))
                | (F.col("datatype") == val))
    if val == RDF_LANGSTRING:
        return F.col("lang").isNotNull() & (F.col("lang") != "")
    return F.col("datatype") == val


def _extra_sql(kind: str, val) -> str:
    """The ANSI-SQL twin of :func:`_extra_spark` — branch for branch."""
    if kind == "nolang":
        return "(lang IS NULL OR lang = '')"
    if kind == "named":     # GRAPH ?var — named graphs only
        return "(context IS NOT NULL AND context <> '')"
    if kind == "langmatch":
        if val == "*":
            return "(lang IS NOT NULL AND lang <> '')"
        low = val.lower()   # ranges are [A-Za-z0-9-]+, LIKE-safe
        return ("(lower(lang) = '%s' OR lower(lang) LIKE '%s-%%')"
                % (low, low))
    if val == XSD_STRING:
        return ("((datatype IS NULL OR datatype = '') "
                "AND (lang IS NULL OR lang = '') "
                "OR datatype = '%s')" % val)
    if val == RDF_LANGSTRING:
        return "(lang IS NOT NULL AND lang <> '')"
    return "datatype = '%s'" % val.replace("'", "''")


def _pc_sql(uri, prefix: str = "") -> str:
    """SQL edge filter for a path base (twin of the Spark backend's
    pred_cond): one URI, an alternation tuple → IN list, or a
    ("!", p1, …) negated set → NOT IN."""
    if isinstance(uri, tuple):
        neg = bool(uri) and uri[0] == "!"
        vals = uri[1:] if neg else uri
        return "%spredicate %sIN (%s)" % (
            prefix, "NOT " if neg else "",
            ", ".join("'%s'" % u.replace("'", "''") for u in vals))
    return "%spredicate = '%s'" % (prefix, uri.replace("'", "''"))


def _path_terms(t: Triple) -> tuple:
    """(column, term) pairs of a property-path scan's (g, a, b)
    relation — shared by both backends' path scans and _scan_vars."""
    ends = (("a", t.s), ("b", t.o))
    if t.graph_var:
        return (("g", ("var", t.graph_var)),) + ends
    return ends


def _scan_vars(t: Triple) -> list:
    """The variables one pattern scan binds, in its column order."""
    if t.p[0] == "path":
        return list(dict.fromkeys(term[1] for _, term in _path_terms(t)
                                  if term[0] == "var"))
    return list(_scan_spec(t, "")[1])


# ---------------------------------------------------------- scoping pass

@dataclass
class _Scope:
    """One group after the scoping pass — what both emitters render.

    ``steps`` are ``(op, arg, keys)`` in SPARQL §18.2.2 order, ``keys``
    being the in-scope variables the step joins on:

    - ``one`` (the single empty solution of a group with no pattern),
      ``scan`` (a Triple), ``union`` (a _Scope with ``alts``),
      ``values`` ((names, rows)), ``subquery`` ((Query, names)),
      ``marker`` ((name, body _Scope) — an EXISTS-in-expression probe);
    - ``bind`` ((Expr, var));
    - ``optional`` (body _Scope), then the deferred ``bind`` steps;
    - ``exists`` ((positive, body _Scope, loose keys)), ``minus``
      ((body _Scope, loose keys); dropped when the domains are
      disjoint), ``filter`` (Expr).

    ``vars`` are the variables in scope after the group, in column
    order; ``maybe`` are those of them a solution may leave unbound
    (bound only by an OPTIONAL or by some UNION branches). An exists
    step's loose keys are its keys in ``maybe``: an unbound key is
    compatible with any value, so they join null-tolerantly. A minus
    step's loose keys are its keys either side may leave unbound; they
    match null-tolerantly on both sides, and when every key is loose
    a solution is removed only if some key is bound on both sides
    (§8.3: solutions with disjoint domains remove nothing). A UNION
    — a WHERE block or a UNION-bodied OPTIONAL / EXISTS — is a _Scope
    whose ``alts`` are the branch scopes and whose ``vars`` are their
    aligned (NULL-padded) union."""
    steps: list = field(default_factory=list)
    vars: list = field(default_factory=list)
    alts: list = field(default_factory=list)
    maybe: set = field(default_factory=set)


def _scope(g: Group) -> _Scope:
    """The scoping pass: fix one group's step order and decide every
    scoping rule — in-scope sets, BIND deferral, UNION alignment, join
    keys, the empty-group solution — recursively for nested groups."""
    if g.union_alts:
        alts = [_scope(a) for a in g.union_alts]
        vars_ = list(dict.fromkeys(v for a in alts for v in a.vars))
        return _Scope(vars=vars_, alts=alts, maybe={
            v for v in vars_
            if any(v not in a.vars or v in a.maybe for a in alts)})
    sc = _Scope()
    bound: dict = {}        # ordered set: the in-scope variables

    def step(op, arg, joins=(), adds=(), body=None, maybe=()):
        if body is not None and body.alts and len(
                {frozenset(bound.keys() & set(a.vars))
                 for a in body.alts}) > 1:
            raise SparqlError(
                "UNION branches must bind the same outer variables")
        sc.steps.append((op, arg, [v for v in joins if v in bound]))
        sc.maybe.update(v for v in maybe if v not in bound)
        bound.update(dict.fromkeys(adds))

    def bind(e, var):
        if var in bound:
            raise SparqlError("BIND target ?%s is already bound" % var)
        step("bind", (e, var), adds=[var])

    # 1. BGP, UNION blocks, VALUES, subqueries, EXISTS-in-expression
    for t in _order_patterns(g.triples):
        vs = _scan_vars(t)
        step("scan", t, vs, vs)
    for block in g.unions:
        u = _scope(Group(union_alts=block))
        step("union", u, u.vars, u.vars, u, u.maybe)
    for names, rows in g.values:
        step("values", (names, rows), names, names)
    for sq in g.subqueries:
        names = [_proj_alias(p) for p in sq.proj]
        step("subquery", (sq, names), names, names)
    if not sc.steps:
        step("one", None)
    optionals = [_scope(ng) for ng in g.optionals]
    opt_vars = {v for o in optionals for v in o.vars}
    late = (opt_vars | {var for _, var in g.binds}) - bound.keys()
    for name, mg in g.exists_markers:
        body = _scope(mg)
        if late & set(body.vars):
            raise SparqlError(
                "EXISTS in an expression cannot correlate on ?%s, which "
                "its group binds only by BIND or OPTIONAL"
                % min(late & set(body.vars)))
        step("marker", (name, body), body.vars, [name], body)
    # 2. BINDs — one reading a variable that only the group's OPTIONALs
    # (or an already deferred BIND) bind waits until after 3.
    deferred, later = [], set(opt_vars)
    for e, var in g.binds:
        missing = _expr_vars(e) - bound.keys()
        if missing and missing <= later:
            deferred.append((e, var))
            later.add(var)
            continue
        if missing:
            _Env()[min(missing)]    # raises the unbound-variable error
        bind(e, var)
    # 3. OPTIONAL left joins; 4. deferred BINDs
    for o in optionals:
        step("optional", o, o.vars, o.vars, o, o.vars)
    for e, var in deferred:
        bind(e, var)
    # 5. FILTER [NOT] EXISTS, MINUS and FILTERs see the whole group
    for positive, eg in g.exists:
        body = _scope(eg)
        loose = sc.maybe & set(body.vars)
        step("exists", (positive, body, loose), body.vars, body=body)
    for mg in g.minus:
        body = _scope(mg)
        shared = bound.keys() & set(body.vars)
        if shared:                          # disjoint: removes nothing
            loose = (sc.maybe | body.maybe) & shared
            step("minus", (body, loose), body.vars)
    for f in g.filters:
        step("filter", f)
    sc.vars = list(bound)
    return sc


def _scope_query(q: Query) -> _Scope:
    """The WHERE group's scope, extended by the GROUP BY expression
    keys (computed like BINDs, before the grouping)."""
    sc = _scope(q.where)
    for ge, name in q.group_exprs:
        if name in sc.vars:
            raise SparqlError("GROUP BY alias ?%s is already bound"
                              % name)
        sc.steps.append(("bind", (ge, name), []))
        sc.vars.append(name)
    return sc


# --------------------------------------------------------- spark backend

def compile_spark(triples: DataFrame, query: Query | str) -> DataFrame:
    """Compile a parsed (or raw-text) SELECT query to a DataFrame plan
    over ``triples`` (the (subject, predicate, object, objtype, lang,
    datatype, …) table)."""
    if isinstance(query, str):
        query = parse(query)
    counter = [0]
    path_cache: dict[tuple, DataFrame] = {}

    def in_graph(graph):
        """Triples scan restricted to a GRAPH context (None = all) —
        every path-edge/term scan below goes through this, so GRAPH
        constraints apply to property-path triples exactly as to plain
        scans. Ellipsis (GRAPH ?var) keeps the named graphs and adds
        their context as ``g``, the key no path crosses."""
        if graph is None:
            return triples
        if graph is Ellipsis:
            return (triples.filter(_extra_spark("named", None))
                    .withColumn("g", F.col("context")))
        return triples.filter(F.col("context") == graph)

    def pred_cond(uri):
        """Edge filter for a path base: one URI, an alternation tuple
        ((p1|p2)+ closes over the UNION of the edge sets), or a
        ("!", p1, …) negated set (closure over the complement)."""
        if isinstance(uri, tuple):
            if uri and uri[0] == "!":
                return ~F.col("predicate").isin(list(uri[1:]))
            return F.col("predicate").isin(list(uri))
        return F.col("predicate") == uri

    def all_terms(graph=None):
        t = in_graph(graph)
        keys = ["g"] if graph is Ellipsis else []
        return (t.select(*keys, F.col("subject").alias("n"))
                .union(t.filter(F.col("objtype") == "uri")
                       .select(*keys, F.col("object").alias("n")))
                .distinct())

    def path_relation(uri: str, mod, graph=None) -> DataFrame:
        """(a, b) pairs connected by 1+ hops of ``uri`` edges; for "*"
        additionally the reflexive pairs over every graph term; for a
        bounded (m, n) quantifier, pairs within m..n hops (n rounds of
        self-join — quantifiers in practice are {,1}). Under GRAPH
        ?var (graph = Ellipsis) the relation is (g, a, b): every hop
        and reflexive row stays inside one named graph. Cached per
        compile — the same path in two UNION branches (the
        annotations.rq shape) computes its closure once."""
        from .graph.closure import transitive_closure
        keys = ["g"] if graph is Ellipsis else []

        def reflexive(rel):
            return rel.unionByName(
                all_terms(graph).select(*keys, F.col("n").alias("a"),
                                        F.col("n").alias("b")))
        if isinstance(mod, tuple):
            if (uri, mod, graph) not in path_cache:
                m, n = mod
                edges = (in_graph(graph)
                         .filter(pred_cond(uri))
                         .select(*keys, F.col("subject").alias("a"),
                                 F.col("object").alias("b"))
                         .where(F.col("a") != F.col("b")).distinct())
                cond = F.col("p.b") == F.col("e.a")
                for k in keys:
                    cond = cond & (F.col("p." + k) == F.col("e." + k))
                rel = edges if m <= 1 else None
                cur = edges
                for k in range(2, n + 1):
                    cur = (cur.alias("p")
                           .join(edges.alias("e"), cond)
                           .select(*[F.col("p." + c).alias(c)
                                     for c in keys],
                                   F.col("p.a").alias("a"),
                                   F.col("e.b").alias("b"))
                           .where(F.col("a") != F.col("b")).distinct())
                    if k >= m:      # depths below m are NOT in the path
                        rel = cur if rel is None else rel.union(cur)
                if m == 0:
                    rel = reflexive(rel)
                path_cache[(uri, mod, graph)] = rel.distinct()
            return path_cache[(uri, mod, graph)]
        if (uri, mod, graph) not in path_cache:
            if (uri, "+", graph) not in path_cache:
                edges = (in_graph(graph)
                         .filter(pred_cond(uri))
                         .select(*keys, F.col("subject").alias("src"),
                                 F.col("object").alias("dst")))
                path_cache[(uri, "+", graph)] = transitive_closure(
                    edges, keys=keys)
            rel = path_cache[(uri, "+", graph)]
            if mod == "*":
                rel = reflexive(rel)
                path_cache[(uri, "*", graph)] = rel
        return path_cache[(uri, mod, graph)]

    def seeded_path(uri: str, mod: str, const: str,
                    forward: bool, graph=None) -> DataFrame:
        """(a, b) path pairs when one endpoint is a constant. Hybrid
        like graphops: below ``PATH_DRIVER_THRESHOLD`` edges the
        all-pairs closure wins (computed once, shared by every branch,
        ≤8 bulk rounds — per-hop frontier jobs would pay fixed
        scheduling cost × chain depth); above it, a bounded frontier
        BFS seeded at the constant (broadcast semi-joins — cost tracks
        the visited neighborhood, never the whole graph's closure).
        Same pair set as path_relation filtered to the constant,
        including the graph-term-gated reflexive row for "*"."""
        from .graph.closure import reachable_nodes
        if (uri, "#edges", graph) not in path_cache:
            path_cache[(uri, "#edges", graph)] = (
                in_graph(graph).filter(pred_cond(uri)).count())
        if path_cache[(uri, "#edges", graph)] <= PATH_DRIVER_THRESHOLD:
            return path_relation(uri, mod, graph)
        key = (uri, mod, const, forward, graph)
        if key not in path_cache:
            edges = (in_graph(graph)
                     .filter(pred_cond(uri))
                     .select(F.col("subject").alias("src"),
                             F.col("object").alias("dst")))
            reach = reachable_nodes(edges, const, reverse=not forward)
            if forward:
                rel = reach.select(F.lit(const).alias("a"),
                                   F.col("n").alias("b"))
            else:
                rel = reach.select(F.col("n").alias("a"),
                                   F.lit(const).alias("b"))
            if mod == "*":
                # zero-length hop iff the constant is a graph term
                # (matches path_relation's reflexive-node set)
                rel = rel.unionByName(
                    all_terms(graph).where(F.col("n") == const)
                    .select(F.lit(const).alias("a"),
                            F.lit(const).alias("b")))
            path_cache[key] = rel
        return path_cache[key]

    def fresh(kind: str) -> str:
        counter[0] += 1
        return "%s%d" % (kind, counter[0])

    def scan(t: Triple):
        alias = fresh("t")
        if t.p[0] == "path":
            s_bound, o_bound = t.s[0] != "var", t.o[0] != "var"
            if t.graph_var:
                df = path_relation(t.p[1], t.p[2], Ellipsis)
            elif s_bound != o_bound and t.p[2] in ("*", "+"):
                df = seeded_path(t.p[1], t.p[2],
                                 (t.s if s_bound else t.o)[1], s_bound,
                                 t.graph)
            else:   # both/neither bound, or a bounded quantifier
                df = path_relation(t.p[1], t.p[2], t.graph)
            varcols = {}
            for col, term in _path_terms(t):
                if term[0] == "var":
                    if term[1] in varcols:      # ?x p* ?x
                        df = df.filter(F.col(varcols[term[1]]) ==
                                       F.col(col))
                    else:
                        varcols[term[1]] = col
                else:
                    df = df.filter(F.col(col) == term[1])
            sel = [F.col(col).alias("%s__%s" % (alias, var))
                   for var, col in varcols.items()]
            return df.select(*sel), {var: "%s__%s" % (alias, var)
                                     for var in varcols}
        consts, varcols, intra, sets, extras = _scan_spec(t, alias)
        df = triples
        for col, val in consts:
            df = df.filter(F.col(col) == val)
        for col, vals, positive in sets:
            cond = F.col(col).isin(list(vals))
            df = df.filter(cond if positive else ~cond)
        for kind, val in extras:
            df = df.filter(_extra_spark(kind, val))
        for c1, c2 in intra:
            df = df.filter(F.col(c1) == F.col(c2))
        sel = [F.col(col).alias("%s__%s" % (alias, var))
               for var, col in varcols.items()]
        return df.select(*sel), {var: "%s__%s" % (alias, var)
                                 for var in varcols}

    def join(plan, cols, df, dcols, keys, how="inner", undef=False,
             loose=(), minus=False):
        """Join ``df`` onto a group's plan on the scoping pass's keys
        (an UNDEF-tolerant condition for VALUES, a null-tolerant one
        on the plan's ``loose`` keys — on both sides for a ``minus``);
        the left side keeps its column for a shared variable."""
        if plan is None:
            plan = df
        else:
            cond = None
            for v in keys:
                c = F.col(cols[v]) == F.col(dcols[v])
                if undef or (minus and v in loose):
                    c = F.col(dcols[v]).isNull() | c
                if v in loose:
                    c = F.col(cols[v]).isNull() | c
                cond = c if cond is None else (cond & c)
            if minus and set(keys) <= set(loose):
                shared = None
                for v in keys:
                    b = F.col(cols[v]).isNotNull() & \
                        F.col(dcols[v]).isNotNull()
                    shared = b if shared is None else (shared | b)
                cond = cond & shared
            if cond is None and how == "inner":
                plan = plan.crossJoin(df)
            else:
                plan = plan.join(df, F.lit(True) if cond is None
                                 else cond, how)
        if how in ("inner", "left"):
            for v, c in dcols.items():
                cols.setdefault(v, c)
        return plan

    def colenv(cols):
        return _Env((v, (F.col(c), c)) for v, c in cols.items())

    def compile_group(sc: _Scope):
        """One scoped group → (DataFrame, {var: column}): each step of
        the scoping pass becomes a join, a projection or a filter. A
        UNION compiles every branch, aligns them on the union of their
        variables (NULL-padded) and unions the aligned relations."""
        cols: dict = {}
        if sc.alts:
            cols = {v: fresh("u") + "__" + v for v in sc.vars}
            aligned = None
            for sub, scols in map(compile_group, sc.alts):
                part = sub.select(*[
                    (F.col(scols[v]) if v in scols
                     else F.lit(None).cast("string")).alias(cols[v])
                    for v in sc.vars])
                aligned = part if aligned is None \
                    else aligned.unionByName(part)
            return aligned, cols
        plan = None
        for op, arg, keys in sc.steps:
            if op == "one":
                plan = triples.sparkSession.range(1).select(
                    F.lit(1).alias(fresh("one")))
            elif op == "scan":
                plan = join(plan, cols, *scan(arg), keys)
            elif op == "union":
                plan = join(plan, cols, *compile_group(arg), keys)
            elif op == "values":
                # a tiny inline relation (broadcast); an UNDEF row
                # leaves that variable unconstrained
                names, rows = arg
                vname = fresh("v")
                vcols = {v: "%s__%s" % (vname, v) for v in names}
                data = [tuple(None if t is None else t[1] for t in row)
                        for row in rows]
                vdf = triples.sparkSession.createDataFrame(
                    data, schema=", ".join("%s string" % vcols[v]
                                           for v in names))
                plan = join(plan, cols, F.broadcast(vdf), vcols, keys,
                            undef=True)
            elif op == "subquery":
                # compiled by the same compiler (aggregates, paths,
                # nested OPTIONALs all legal inside), joined on the
                # variables it projects
                sq, names = arg
                ssub, sname = compile_spark(triples, sq), fresh("sq")
                scols = {v: "%s__%s" % (sname, v) for v in names}
                for v in names:
                    ssub = ssub.withColumnRenamed(v, scols[v])
                plan = join(plan, cols, ssub, scols, keys)
            elif op == "marker":
                # EXISTS-in-expression probe: the body's shared
                # variables, DISTINCT (one boolean per outer key — no
                # row multiplication), left-joined with a TRUE marker
                # that EExistsMarker reads as COALESCE(marker, FALSE);
                # with no shared variable a 0/1-row existence relation
                name, body = arg
                esub, ecols = compile_group(body)
                mcol = fresh("xm")
                kcols = {v: "%s_k%d" % (mcol, i)
                         for i, v in enumerate(keys)}
                probe = (esub.select(*[F.col(ecols[v]).alias(kcols[v])
                                       for v in keys]).distinct()
                         if keys else esub.limit(1).select())
                plan = join(plan, cols,
                            probe.withColumn(mcol, F.lit(True)), kcols,
                            keys, "left")
                cols[name] = mcol
            elif op == "bind":
                e, var = arg
                bname = fresh("b") + "__" + var
                plan = plan.withColumn(bname, e.spark(colenv(cols)))
                cols[var] = bname
            elif op == "optional":
                plan = join(plan, cols, *compile_group(arg), keys, "left")
            elif op == "exists":
                # left-semi / left-anti join (the Spark-native form:
                # the probe side streams, AQE broadcasts a small body)
                positive, body, loose = arg
                plan = join(plan, cols, *compile_group(body), keys,
                            "left_semi" if positive else "left_anti",
                            loose=loose)
            elif op == "minus":
                body, loose = arg
                plan = join(plan, cols, *compile_group(body), keys,
                            "left_anti", loose=loose, minus=True)
            else:   # filter
                plan = plan.filter(arg.spark(colenv(cols)))
        return plan, cols

    plan, env_cols = compile_group(_scope_query(query))

    if query.construct is not None:
        # instantiate each template triple per solution; template rows
        # with any unbound position are skipped (SPARQL CONSTRUCT
        # semantics); the result is a graph, i.e. a distinct set.
        # _:label templates mint one node per (label, solution):
        # "_:label-" + md5 of the solution's bindings — deterministic,
        # so the SQL twin mints the SAME ids (spec only requires
        # per-solution freshness; a deterministic skolem-style id is a
        # valid choice and the only testable one)
        sol_vars = [v for v in sorted(env_cols)
                    if not v.startswith("__exm")]
        sol_id = F.md5(F.concat_ws(
            "\x1f", *[F.coalesce(F.col(env_cols[v]).cast("string"),
                                 F.lit("\x00")) for v in sol_vars])) \
            if sol_vars else F.lit("")

        def pos(term):
            if term[0] == "var":
                if term[1] not in env_cols:
                    raise SparqlError("unbound template variable ?%s"
                                      % term[1])
                return F.col(env_cols[term[1]])
            if term[0] == "bnode":
                return F.concat(F.lit("_:%s-" % term[1]), sol_id)
            return F.lit(term[1])
        out = None
        for t in query.construct:
            row = plan.select(pos(t.s).alias("subject"),
                              pos(t.p).alias("predicate"),
                              pos(t.o).alias("object"))
            row = row.filter(F.col("subject").isNotNull() &
                             F.col("predicate").isNotNull() &
                             F.col("object").isNotNull())
            out = row if out is None else out.unionByName(row)
        return out.dropDuplicates()

    if query.ask:
        return (plan.limit(1)
                .agg(F.count(F.lit(1)).alias("c"))
                .select((F.col("c") > 0).alias("ask")))

    proj = query.proj
    if proj == ["*"]:
        proj = [v for v in env_cols
                if not v.startswith(("__seq", "__bn_", "__exm",
                                     "__gk"))]
    aggs = [p for p in proj if not isinstance(p, str) and p[0] == "agg"]
    exprs = [p for p in proj if not isinstance(p, str) and p[0] == "expr"]
    if aggs or query.group_by or query.having_aggs:
        def aggcol(func, dist, var, alias, sep):
            if var is None:
                return F.count(F.lit(1)).alias(alias)
            col = (F.col(env_cols[var]) if isinstance(var, str)
                   else var.spark(colenv(env_cols)))
            if func == "COUNT":
                c = F.countDistinct(col) if dist else F.count(col)
            elif func in ("SUM", "AVG"):
                if dist:    # SUM/AVG(DISTINCT ?v) — SQL-expression form
                    c = F.expr("%s(DISTINCT try_cast(%s AS double))"
                               % (func.lower(), env_cols[var]))
                else:
                    c = getattr(F, func.lower())(col.try_cast("double"))
            elif func == "SAMPLE":
                # SAMPLE may return any group member; MIN is a valid,
                # deterministic choice (identical in the SQL twin)
                c = F.min(col)
            elif func == "GROUP_CONCAT":
                # concatenation order is unspecified in SPARQL; both
                # backends sort group members so results are stable
                # and engine-independent
                vals = F.collect_set(col) if dist else F.collect_list(col)
                c = F.array_join(F.array_sort(vals), sep)
            else:           # MIN/MAX: DISTINCT is a no-op
                c = getattr(F, func.lower())(col)
            return c.alias(alias)
        keys = [F.col(env_cols[v]).alias(v) for v in query.group_by]
        aggitems = [aggcol(f, d, v, a, s) for (_, f, d, v, a, s)
                    in aggs + query.having_aggs]
        if aggitems:
            out = plan.groupBy(*keys).agg(*aggitems)
        else:
            # GROUP BY with no aggregates ≡ DISTINCT over the keys
            # (the SQL twin's GROUP-BY-without-aggregates does the
            # same reduction)
            out = plan.select(*keys).distinct()
        if query.having is not None:
            # HAVING ranges over group keys and projected agg aliases —
            # applied as a post-aggregation filter (the SQL twin wraps
            # the grouped subquery for the same reason: alias scope)
            henv = {c: (F.col(c), c) for c in out.columns}
            out = out.filter(query.having.spark(henv))
        for _, e, alias in exprs:   # expressions over the group keys
            out = out.withColumn(
                alias, e.spark(_Env((c, (F.col(c), c))
                                    for c in out.columns)))
        # hidden __hagg columns survive until after ORDER BY (an
        # aggregate sort key reads them); dropped at the tail
        out = out.select(*([_proj_alias(p) for p in proj]
                           + [p[4] for p in query.having_aggs]))
    else:
        # a projected variable bound nowhere is NULL (SPARQL allows it;
        # the reference's sfs_forfattningskommentar.rq projects one)
        def proj_col(p):
            if isinstance(p, str):
                return (F.col(env_cols[p]) if p in env_cols
                        else F.lit(None).cast("string")).alias(p)
            _, e, alias = p         # ("expr", Expr, alias)
            return e.spark(colenv(env_cols)).alias(alias)
        out = plan.select(*[proj_col(p) for p in proj])
        if query.distinct:
            out = out.dropDuplicates()
    if query.order:
        # sort keys evaluate over the OUTPUT columns (projected vars /
        # aliases) — an expression referencing anything else errors
        # through _Env, same rule as the name path
        oenv = _Env((c, (F.col(c), c)) for c in out.columns)

        def ocol(v):
            return F.col(v) if isinstance(v, str) else v.spark(oenv)
        out = out.orderBy(*[ocol(v).desc() if d else ocol(v).asc()
                            for v, d in query.order])
    if query.offset is not None:
        out = out.offset(query.offset)
    if query.limit is not None:
        out = out.limit(query.limit)
    if query.having_aggs:
        # drop the hidden HAVING/ORDER aggregate columns (narrow
        # projection after orderBy — order is preserved)
        out = out.select(*[_proj_alias(p) for p in proj])
    return out


# ----------------------------------------------------------- sql backend

def compile_sql(table_sql: str, query: Query | str) -> str:
    """Emit ANSI SQL (DuckDB-ready) structurally mirroring
    :func:`compile_spark`: one subquery per triple pattern, joined on
    shared variables; OPTIONALs become LEFT JOINs. ``table_sql`` is the
    FROM-able triples relation, e.g. ``read_parquet('…')``."""
    if isinstance(query, str):
        query = parse(query)
    n = [0]
    ctes: list[str] = []
    path_names: dict[tuple, str] = {}

    def path_cte(uri: str, mod, graph=None) -> str:
        """Emit (once) the recursive CTE for 1+ hops of ``uri`` edges,
        plus the reflexive-extended twin for "*" and the
        depth-tracked bounded variant for (m, n) quantifiers. A GRAPH
        context restricts every edge/term scan (mirror of the Spark
        backend's in_graph); under GRAPH ?var (graph = Ellipsis) every
        CTE carries the context as ``g`` and the recursion joins on it
        — one closure per named graph."""
        if graph is Ellipsis:
            g, gsel, gp = "g, ", "context AS g, ", "p.g, "
            gc = " AND " + _extra_sql("named", None)
            gce = " AND e.context = p.g"
        else:
            g = gsel = gp = ""
            esc = None if graph is None else graph.replace("'", "''")
            gc = "" if esc is None else " AND context = '%s'" % esc
            gce = "" if esc is None else " AND e.context = '%s'" % esc
        terms = ("SELECT %sn, n FROM (SELECT %ssubject AS n FROM %s"
                 " WHERE TRUE%s UNION SELECT %sobject FROM %s"
                 " WHERE objtype = 'uri'%s)"
                 % (g, gsel, table_sql, gc, gsel, table_sql, gc))

        def pc(prefix=""):
            return _pc_sql(uri, prefix)
        if (uri, mod, graph) in path_names:
            return path_names[(uri, mod, graph)]
        if isinstance(mod, tuple):
            m, n2 = mod
            inner = "pb%d" % len(ctes)
            # e.subject <> e.object: the recursion must walk the SAME
            # self-loop-free edge set as the base case (and as the
            # Spark backend's pre-filtered edges) — without it a
            # mid-path self-loop edge reaches depth m while the Spark
            # plan can't (hypothesis-found, pinned in
            # test_bounded_negset_selfloop_parity)
            ctes.append(
                "%s AS (SELECT %ssubject AS a, object AS b, 1 AS d"
                " FROM %s WHERE %s%s AND subject <> object"
                " UNION ALL SELECT %sp.a, e.object, p.d + 1 FROM %s p"
                " JOIN %s e ON p.b = e.subject AND %s%s"
                " AND e.subject <> e.object"
                " WHERE p.d < %d AND p.a <> e.object)"
                % (inner, gsel, table_sql, pc(), gc, gp, inner,
                   table_sql, pc("e."), gce, n2))
            name = "pathq%d" % len(ctes)
            sel = ("SELECT DISTINCT %sa, b FROM %s WHERE d BETWEEN %d"
                   " AND %d" % (g, inner, max(m, 1), n2))
            if m == 0:
                sel += " UNION " + terms
            ctes.append("%s AS (%s)" % (name, sel))
            path_names[(uri, mod, graph)] = name
            return name
        if (uri, "+", graph) not in path_names:
            name = "path%d" % len(ctes)
            ctes.append(
                "%s AS (SELECT %ssubject AS a, object AS b FROM %s"
                " WHERE %s%s AND subject <> object"
                " UNION SELECT %sp.a, e.object FROM %s p JOIN %s e"
                " ON p.b = e.subject AND %s%s"
                " WHERE p.a <> e.object)"
                % (name, gsel, table_sql, pc(), gc, gp, name, table_sql,
                   pc("e."), gce))
            path_names[(uri, "+", graph)] = name
        if mod == "*":
            name = "star%d" % len(ctes)
            ctes.append("%s AS (SELECT %sa, b FROM %s UNION %s)"
                        % (name, g, path_names[(uri, "+", graph)], terms))
            path_names[(uri, "*", graph)] = name
        return path_names[(uri, mod, graph)]

    def fresh(kind: str) -> str:
        n[0] += 1
        return "%s%d" % (kind, n[0])

    def scan_sql(t: Triple):
        alias = fresh("t")
        if t.p[0] == "path":
            rel = path_cte(t.p[1], t.p[2],
                           Ellipsis if t.graph_var else t.graph)
            varcols, conds = {}, []
            for col, term in _path_terms(t):
                if term[0] == "var":
                    if term[1] in varcols:
                        conds.append("%s = %s" % (varcols[term[1]], col))
                    else:
                        varcols[term[1]] = col
                else:
                    conds.append("%s = '%s'"
                                 % (col, term[1].replace("'", "''")))
            cols = ", ".join("%s AS %s__%s" % (col, alias, var)
                             for var, col in varcols.items()) \
                or "1 AS %s__x" % alias   # all-const existence pattern
            where = (" WHERE " + " AND ".join(conds)) if conds else ""
            sub = "(SELECT %s FROM %s%s) %s" % (cols, rel, where, alias)
            return sub, {var: "%s__%s" % (alias, var) for var in varcols}
        consts, varcols, intra, sets, extras = _scan_spec(t, alias)
        conds = ["%s = '%s'" % (col, val.replace("'", "''"))
                 for col, val in consts]
        conds += ["%s %sIN (%s)"
                  % (col, "" if positive else "NOT ",
                     ", ".join("'%s'" % v.replace("'", "''")
                               for v in vals))
                  for col, vals, positive in sets]
        conds += [_extra_sql(kind, val) for kind, val in extras]
        conds += ["%s = %s" % (c1, c2) for c1, c2 in intra]
        cols = ", ".join("%s AS %s__%s" % (col, alias, var)
                         for var, col in varcols.items()) \
            or "1 AS %s__x" % alias       # all-const existence pattern
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        sub = "(SELECT %s FROM %s%s) %s" % (cols, table_sql, where, alias)
        return sub, {var: "%s__%s" % (alias, var) for var in varcols}

    def sqlenv(cols):
        return _Env((v, (None, c)) for v, c in cols.items())

    def group_select(sc: _Scope):
        """One scoped group → (cols-map, FROM/JOIN parts, WHERE conds)
        — the SQL rendering of the steps compile_spark's compile_group
        renders. BINDs become carried expressions, OPTIONALs LEFT JOIN
        a subquery, EXISTS/MINUS become correlated (NOT) EXISTS conds
        and VALUES an inline relation."""
        cols: dict = {}
        parts: list = []
        conds: list = []

        def join(rel, rcols, keys, how="JOIN", undef=False):
            on = " AND ".join(
                ("(%s IS NULL OR %s = %s)" % (rcols[v], cols[v], rcols[v]))
                if undef else "%s = %s" % (cols[v], rcols[v])
                for v in keys)
            if not parts:
                parts.append("FROM %s" % rel)
            elif on or how != "JOIN":
                parts.append("%s %s ON %s" % (how, rel, on or "TRUE"))
            else:
                parts.append("CROSS JOIN %s" % rel)
            for v, c in rcols.items():
                cols.setdefault(v, c)

        for op, arg, keys in sc.steps:
            if op == "one":
                parts.append("FROM (SELECT 1 AS one) %s" % fresh("one"))
            elif op == "scan":
                join(*scan_sql(arg), keys)
            elif op in ("union", "optional"):
                ocols, inner, al = body_select(arg)
                join("(%s) %s" % (inner, al), ocols, keys,
                     "LEFT JOIN" if op == "optional" else "JOIN")
            elif op == "values":
                names, rows = arg
                al = fresh("v")
                vcols = {v: "%s__%s" % (al, v) for v in names}
                rows_sql = ", ".join(
                    "(%s)" % ", ".join(
                        "NULL" if t is None else
                        "'%s'" % t[1].replace("'", "''") for t in row)
                    for row in rows)
                join("(VALUES %s) %s(%s)" % (
                    rows_sql, al, ", ".join(vcols[v] for v in names)),
                    vcols, keys, undef=True)
            elif op == "subquery":
                sq, names = arg
                al = fresh("sq")
                scols = {v: "%s__%s" % (al, v) for v in names}
                inner = "SELECT %s FROM (%s) %s_raw" % (
                    ", ".join("%s AS %s" % (v, scols[v]) for v in names),
                    compile_sql(table_sql, sq), al)
                join("(%s) %s" % (inner, al), scols, keys)
            elif op == "marker":
                name, body = arg
                cols[name] = "(%s)" % exists_sql(body, keys, cols)
            elif op == "bind":
                e, var = arg
                cols[var] = e.sql(sqlenv(cols))
            elif op == "exists":
                positive, body, loose = arg
                conds.append("%s%s" % ("" if positive else "NOT ",
                                       exists_sql(body, keys, cols,
                                                  loose)))
            elif op == "minus":
                body, loose = arg
                conds.append("NOT " + exists_sql(body, keys, cols, loose,
                                                 minus=True))
            else:   # filter
                conds.append(arg.sql(sqlenv(cols)))
        return cols, parts, conds

    def body_select(sc: _Scope):
        """A scoped group as a subquery → (out_cols, SELECT text,
        alias). A UNION selects every branch NULL-padded onto the
        union of their variables, combined by UNION ALL."""
        al = fresh("n")
        out = {v: "%s__%s" % (al, v) for v in sc.vars}
        selects = []
        for cols, parts, conds in map(group_select, sc.alts or [sc]):
            sel = ", ".join(
                ("%s AS %s" % (cols[v], out[v])) if v in cols
                else ("CAST(NULL AS VARCHAR) AS %s" % out[v])
                for v in sc.vars) or "1 AS %s__x" % al
            selects.append(" ".join(
                ["SELECT %s" % sel] + parts
                + (["WHERE " + " AND ".join(conds)] if conds else [])))
        return out, " UNION ALL ".join(selects), al

    def exists_sql(body: _Scope, keys, outer_cols, loose=(),
                   minus=False) -> str:
        """EXISTS over a scoped group, correlated on the keys (an
        unbound outer value matches any for the ``loose`` ones; for a
        ``minus`` an unbound body value too, and some key must be bound
        on both sides when all are loose)."""
        ocols, inner, al = body_select(body)

        def eq(v):
            c = "%s = %s" % (ocols[v], outer_cols[v])
            if v not in loose:
                return c
            nulls = [outer_cols[v]] + ([ocols[v]] if minus else [])
            return "(%s)" % " OR ".join(
                ["%s IS NULL" % n for n in nulls] + [c])
        corr = [eq(v) for v in keys]
        if minus and set(keys) <= set(loose):
            corr.append("(%s)" % " OR ".join(
                "(%s IS NOT NULL AND %s IS NOT NULL)"
                % (outer_cols[v], ocols[v]) for v in keys))
        corr = " AND ".join(corr)
        return "EXISTS (SELECT 1 FROM (%s) %s%s)" % (
            inner, al, (" WHERE " + corr) if corr else "")

    env_cols, parts, where_conds = group_select(_scope_query(query))

    def with_prefix(extra_ctes=()):
        allc = ctes + list(extra_ctes)
        if not allc:
            return ""
        return "WITH RECURSIVE %s " % ", ".join(allc)

    if query.ask:
        inner = "SELECT 1 AS one %s" % " ".join(parts)
        if where_conds:
            inner += " WHERE " + " AND ".join(where_conds)
        return "%sSELECT (COUNT(*) > 0) AS ask FROM (%s LIMIT 1) askq" \
            % (with_prefix(), inner)

    if query.construct is not None:
        # BIND / EXISTS vars carry an expression, not a column
        # reference — every variable gets a plain alias in the
        # solution CTE
        sol_cols = {v: "sol__" + v for v in env_cols}
        sol = "SELECT %s %s" % (
            ", ".join("%s AS %s" % (c, sol_cols[v])
                      for v, c in env_cols.items())
            or "1 AS x",    # fully-constant WHERE: existence rows only
            " ".join(parts))
        if where_conds:
            sol += " WHERE " + " AND ".join(where_conds)

        # deterministic per-solution blank-node id — byte-identical to
        # the Spark emitter's: md5 over the same sorted variable list,
        # same \x1f separator and \x00 null sentinel
        sol_vars = [v for v in sorted(env_cols)
                    if not v.startswith("__exm")]
        sol_id = ("md5(concat_ws(chr(31), %s))" % ", ".join(
            "coalesce(CAST(%s AS VARCHAR), chr(0))" % sol_cols[v]
            for v in sol_vars)) if sol_vars else "''"

        def pos(term):
            if term[0] == "var":
                if term[1] not in env_cols:
                    raise SparqlError("unbound template variable ?%s"
                                      % term[1])
                return sol_cols[term[1]]
            if term[0] == "bnode":
                return "('_:%s-' || %s)" % (term[1], sol_id)
            return "'%s'" % term[1].replace("'", "''")
        selects = []
        for t in query.construct:
            s, p, o = pos(t.s), pos(t.p), pos(t.o)
            nn = " AND ".join(
                "%s IS NOT NULL" % c for c, tm in
                zip((s, p, o), (t.s, t.p, t.o))
                if not c.startswith("'") and tm[0] != "bnode")
            # DISTINCT inside each branch: UNION dedups across
            # branches, but a single-template CONSTRUCT has no UNION —
            # the result is a graph (a set) either way
            selects.append(
                "SELECT DISTINCT %s AS subject, %s AS predicate,"
                " %s AS object FROM sol%s"
                % (s, p, o, (" WHERE " + nn) if nn else ""))
        return "%s%s" % (with_prefix(["sol AS (%s)" % sol]),
                         " UNION ".join(selects))

    proj = query.proj
    if proj == ["*"]:
        proj = [v for v in env_cols
                if not v.startswith(("__seq", "__bn_", "__exm",
                                     "__gk"))]
    aggs = [p for p in proj if not isinstance(p, str) and p[0] == "agg"]
    if aggs or query.group_by or query.having_aggs:
        def aggsql(func, dist, var, alias, sep):
            if var is None:
                return "COUNT(*) AS %s" % alias
            c = (env_cols[var] if isinstance(var, str)
                 else var.sql(sqlenv(env_cols)))
            if func == "COUNT":
                return "COUNT(%s%s) AS %s" % ("DISTINCT " if dist else "",
                                              c, alias)
            if func in ("SUM", "AVG"):
                return "%s(%sTRY_CAST(%s AS DOUBLE)) AS %s" % (
                    func, "DISTINCT " if dist else "", c, alias)
            if func == "SAMPLE":
                # deterministic SAMPLE: MIN (same choice as Spark)
                return "MIN(%s) AS %s" % (c, alias)
            if func == "GROUP_CONCAT":
                # sorted concatenation — mirror of the Spark backend's
                # array_sort(collect_*) ordering; coalesce matches the
                # empty-sequence → "" rule (Spark's array_join over an
                # empty collect_list) where string_agg yields NULL on
                # an all-unbound group
                return "coalesce(string_agg(%s%s, '%s' ORDER BY %s)," \
                    " '') AS %s" % (
                        "DISTINCT " if dist else "", c,
                        sep.replace("'", "''"), c, alias)
            return "%s(%s) AS %s" % (func, c, alias)
        def grouped_sel(p):
            if isinstance(p, str):
                return "%s AS %s" % (env_cols[p], p)
            if p[0] == "expr":      # over group keys (validated)
                return "%s AS %s" % (p[1].sql(sqlenv(env_cols)), p[2])
            return aggsql(p[1], p[2], p[3], p[4], p[5])
        sel = ", ".join(grouped_sel(p) for p in proj)
        # HAVING's inline aggregates compute as HIDDEN select items
        # (the outer HAVING wrap projects only the real output)
        if query.having_aggs:
            sel += ", " + ", ".join(
                aggsql(p[1], p[2], p[3], p[4], p[5])
                for p in query.having_aggs)
        sql = "%sSELECT %s %s" % (with_prefix(), sel, " ".join(parts))
        if where_conds:
            sql += " WHERE " + " AND ".join(where_conds)
        if query.group_by:
            sql += " GROUP BY " + ", ".join(env_cols[v]
                                            for v in query.group_by)
        if query.having is not None:
            # aliases aren't in scope in an ANSI HAVING — wrap the
            # grouped query instead (mirror of the Spark backend's
            # post-aggregation filter); the wrap also DROPS the
            # hidden __hagg columns from the output
            henv = {v: (None, v) for v in query.group_by}
            henv.update({p[4]: (None, p[4]) for p in aggs})
            henv.update({p[4]: (None, p[4])
                         for p in query.having_aggs})
            sql = "SELECT %s FROM (%s) havq WHERE %s" % (
                ", ".join([_proj_alias(p) for p in proj]
                          + [p[4] for p in query.having_aggs]) or "*",
                sql, query.having.sql(henv))
    else:
        def plain_sel(p):
            if isinstance(p, str):
                return "%s AS %s" % (
                    env_cols.get(p, "CAST(NULL AS VARCHAR)"), p)
            return "%s AS %s" % (p[1].sql(sqlenv(env_cols)), p[2])
        sel = ", ".join(plain_sel(p) for p in proj)
        sql = "%sSELECT %s%s %s" % (with_prefix(),
                                    "DISTINCT " if query.distinct else "",
                                    sel, " ".join(parts))
        if where_conds:
            sql += " WHERE " + " AND ".join(where_conds)
    if query.having_aggs:
        # final projection drops the hidden __hagg columns; the outer
        # ORDER BY below may still reference them (ORDER BY resolves
        # against the FROM subquery's columns, projected or not)
        sql = "SELECT %s FROM (%s) finq" % (
            ", ".join(_proj_alias(p) for p in proj), sql)
    if query.order:
        # mirror of the Spark backend: keys evaluate over the OUTPUT
        # aliases (the emitted SELECT list) plus hidden aggregate
        # sort keys, so expressions compose over projected vars /
        # aggregate aliases only
        oenv = _Env([(_proj_alias(p), (None, _proj_alias(p)))
                     for p in proj]
                    + [(p[4], (None, p[4]))
                       for p in query.having_aggs])

        def osql(v):
            return v if isinstance(v, str) else v.sql(oenv)
        # explicit NULLS placement: SPARQL orders unbound LOWEST
        # (asc → nulls first, desc → nulls last) — Spark's default;
        # DuckDB defaults to NULLS LAST in BOTH directions, which
        # silently diverged on any nullable sort key (an
        # OPTIONAL-bound var, a shape-gated cast)
        sql += " ORDER BY " + ", ".join(
            "%s%s" % (osql(v),
                      " DESC NULLS LAST" if d else " NULLS FIRST")
            for v, d in query.order)
    if query.limit is not None:
        sql += " LIMIT %d" % query.limit
    if query.offset is not None:
        sql += " OFFSET %d" % query.offset
    return sql
