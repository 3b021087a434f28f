"""SPARQL Update subset over the triple table.

The reference's ``TripleStore.update()`` (ref ferenda/triplestore.py:
164-173) accepts SPARQL 1.1 Update strings and mutates the store; its
``clear()`` (triplestore.py:179-182) drops a context. The Spark form
is FUNCTIONAL: :func:`apply_update` takes the triple DataFrame and the
update string and returns the updated table (same schema) — the caller
lands it with ``operators.lineage.write_triples``, which is where
idempotent overwrite semantics live. Supported:

- ``INSERT DATA { t … }`` / ``DELETE DATA { t … }``  (constant triples)
- ``DELETE { tmpl } INSERT { tmpl } WHERE { G }``  (either part
  optional), ``DELETE WHERE { G }`` (pattern is its own template)
- ``CLEAR GRAPH <uri>`` / ``CLEAR DEFAULT`` / ``CLEAR ALL``
- ``;``-separated sequences, applied left to right (each op's WHERE
  reads the PREVIOUS op's output — SPARQL 1.1 sequence semantics)

The WHERE group supports everything the read compilers support
(OPTIONAL/UNION/MINUS/FILTER/paths/…): bindings come from a
``SELECT *`` query built on the same parsed ``Group`` and compiled by
the existing Spark and DuckDB backends, so both engines share one
pattern-matching implementation.

Semantics notes (documented contract):

- matching and dedup are on (subject, predicate, object); DELETE drops
  every context's copy, and an INSERT of an already-present triple is
  a no-op (graphs are sets).
- inserted rows carry NULL in every column the template can't express
  (datatype, source_url, context, …); literal templates carry their
  ``@lang``. A VARIABLE object's objtype is inferred by the scheme
  pattern ``^[A-Za-z][A-Za-z0-9+.-]*://`` (identical regex in both
  engines) — templates with constant terms are exact.
- ``GRAPH`` inside templates and ``WITH`` are not supported (raise).

Scale shape: DELETE is one anti-join keyed by the uniform (s,p,o)
hash; INSERT is one anti-join plus a union; bindings inherit the read
compiler's plan (broadcast pattern joins, pushed predicate filters).
Nothing collects.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sparql import (Query, SparqlError, Triple, _Parser, _scope,
                     compile_spark, compile_sql)

URI_SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"


@dataclass
class UpdateOp:
    kind: str                       # insert_data|delete_data|modify|clear
    delete: list[Triple] = field(default_factory=list)
    insert: list[Triple] = field(default_factory=list)
    where: Query | None = None      # SELECT * over the parsed group
    graph: str | None = None        # CLEAR target (None = everything)


def _tmpl_vars(tmpl: list[Triple]):
    for t in tmpl:
        for term in (t.s, t.p, t.o):
            if term[0] == "var":
                yield term[1]


class _UpdateParser(_Parser):
    def parse_update(self) -> list[UpdateOp]:
        while self.kw("PREFIX"):
            k, v = self.next()
            if k != "pname" or not v.endswith(":"):
                raise SparqlError("bad PREFIX name %r" % v)
            name = v[:-1]
            ku, vu = self.next()
            if ku != "uri":
                raise SparqlError("bad PREFIX uri %r" % vu)
            self.prefixes[name] = vu[1:-1]
        ops: list[UpdateOp] = []
        while self.peek()[0] != "eof":
            if self.kw("WITH"):
                raise SparqlError("WITH <graph> is not supported")
            if self.kw("CLEAR"):
                if self.kw("GRAPH"):
                    t = self.term()
                    if t[0] != "uri":
                        raise SparqlError("CLEAR GRAPH needs a URI")
                    ops.append(UpdateOp("clear", graph=t[1]))
                elif self.kw("DEFAULT") or self.kw("ALL"):
                    ops.append(UpdateOp("clear"))
                else:
                    raise SparqlError("CLEAR needs GRAPH <uri>, "
                                      "DEFAULT or ALL")
            elif self.kw("INSERT"):
                if self.kw("DATA"):
                    ops.append(UpdateOp("insert_data",
                                        insert=self._template(True)))
                else:
                    ins = self._template(False)
                    if not self.kw("WHERE"):
                        raise SparqlError("INSERT {…} needs WHERE")
                    ops.append(UpdateOp("modify", insert=ins,
                                        where=self._where_query()))
            elif self.kw("DELETE"):
                if self.kw("DATA"):
                    ops.append(UpdateOp("delete_data",
                                        delete=self._template(True)))
                elif self.kw("WHERE"):
                    # DELETE WHERE { G }: the pattern is the template;
                    # restrict to a plain BGP so template = triples
                    q = self._where_query("DELETE")
                    ops.append(UpdateOp("modify", delete=q.where.triples,
                                        where=q))
                else:
                    dele = self._template(False)
                    ins = []
                    if self.kw("INSERT"):
                        ins = self._template(False)
                    if not self.kw("WHERE"):
                        raise SparqlError("DELETE {…} needs WHERE")
                    ops.append(UpdateOp(
                        "modify", delete=dele, insert=ins,
                        where=self._where_query()))
            else:
                raise SparqlError("expected INSERT/DELETE/CLEAR, got %r"
                                  % (self.peek(),))
            if self.peek()[1] == ";":
                self.i += 1
            elif self.peek()[0] != "eof":
                raise SparqlError("expected ';' between update "
                                  "operations, got %r" % (self.peek(),))
        if not ops:
            raise SparqlError("empty update request")
        return ops

    def _template(self, constant: bool) -> list[Triple]:
        self.expect_op("{")
        tmpl: list[Triple] = []
        while self.peek()[1] != "}":
            if (self.peek()[0] == "kw" and
                    self.peek()[1].upper() == "GRAPH"):
                raise SparqlError("GRAPH blocks in update templates "
                                  "are not supported")
            tmpl.extend(self.triples_same_subject())
        self.i += 1
        if not tmpl:
            raise SparqlError("empty update template")
        for t in tmpl:
            if t.p[0] == "path":
                raise SparqlError("property paths are not valid in "
                                  "update templates")
            if constant and any(term[0] == "var"
                                for term in (t.s, t.p, t.o)):
                raise SparqlError("INSERT/DELETE DATA requires "
                                  "constant triples")
        return tmpl

    def _where_query(self, bgp_only: str | None = None) -> Query:
        """Parse ``{ G }`` into a ``SELECT * WHERE { G }`` Query (the
        binding source both compilers run)."""
        return Query(False, ["*"], self.where_group(bgp_only), [], None)


def parse_update(text: str) -> list[UpdateOp]:
    ops = _UpdateParser(text).parse_update()
    # parse-time guard shared by BOTH backends: a template variable the
    # WHERE group cannot bind would otherwise only fail Spark-side
    # (the SQL twin would emit a dangling column reference instead)
    for op in ops:
        if op.kind != "modify":
            continue
        bound = set(_scope(op.where.where).vars)
        loose = set(_tmpl_vars(op.delete + op.insert)) - bound
        if loose:
            raise SparqlError("template variables not bound by WHERE: "
                              + ", ".join("?" + v for v in
                                          sorted(loose)))
    return ops


# ------------------------------------------------------------ Spark side

def _term_col(term, bound: set[str]):
    if term[0] == "var":
        if term[1] not in bound:
            raise SparqlError("unbound template variable ?%s" % term[1])
        return F.col(term[1])
    return F.lit(term[1])


def _objtype_col(term, bound: set[str]):
    if term[0] == "uri":
        return F.lit("uri")
    if term[0] in ("lit", "num"):
        return F.lit("literal")
    _term_col(term, bound)      # raises on unbound
    return F.when(F.col(term[1]).rlike(URI_SCHEME_RE),
                  "uri").otherwise("literal")


def _lang_col(term):
    if term[0] == "lit" and len(term) > 2 and term[2]:
        return F.lit(term[2])
    return F.lit(None).cast("string")


def _instantiate(bindings: DataFrame | None, tmpl: list[Triple],
                 full: bool) -> DataFrame:
    """Template × bindings → distinct rows; ``full`` adds
    objtype/lang. Constant templates may pass ``bindings=None``."""
    bound = set(bindings.columns) if bindings is not None else set()
    out = None
    for t in tmpl:
        cols = [_term_col(t.s, bound).alias("subject"),
                _term_col(t.p, bound).alias("predicate"),
                _term_col(t.o, bound).alias("object")]
        if full:
            cols += [_objtype_col(t.o, bound).alias("objtype"),
                     _lang_col(t.o).alias("lang")]
        src = bindings if bindings is not None else None
        if src is None:
            src = _SPARK[0].range(1)
        row = src.select(*cols).where(
            F.col("subject").isNotNull() &
            F.col("predicate").isNotNull() &
            F.col("object").isNotNull())
        out = row if out is None else out.unionByName(row)
    return out.dropDuplicates(["subject", "predicate", "object"])


_SPARK = [None]     # session holder for constant-template instantiation


def _pad_schema(rows: DataFrame, like: DataFrame) -> DataFrame:
    """Extend instantiated rows to the triple table's full schema with
    typed NULLs for every column the template cannot express."""
    cols = []
    for f_ in like.schema.fields:
        if f_.name in rows.columns:
            cols.append(F.col(f_.name).cast(f_.dataType)
                        .alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return rows.select(*cols)


def apply_update(triples: DataFrame, update: str) -> DataFrame:
    """→ the updated triple table (same schema), ops applied left to
    right."""
    _SPARK[0] = triples.sparkSession
    df = triples
    for op in parse_update(update):
        if op.kind == "clear":
            if op.graph is None:
                df = df.limit(0)
            else:
                df = df.where(~F.col("context").eqNullSafe(op.graph))
            continue
        bindings = (compile_spark(df, op.where)
                    if op.kind == "modify" else None)
        if op.delete:
            dele = _instantiate(bindings, op.delete, full=False)
            df = df.join(dele, ["subject", "predicate", "object"],
                         "left_anti")
        if op.insert:
            ins = _pad_schema(
                _instantiate(bindings, op.insert, full=True), df)
            fresh = ins.join(
                df.select("subject", "predicate", "object"),
                ["subject", "predicate", "object"], "left_anti")
            df = df.unionByName(fresh)
    return df


# ----------------------------------------------------------- DuckDB twin

def _sql_term(term, bound: set[str]):
    if term[0] == "var":
        if term[1] not in bound:
            raise SparqlError("unbound template variable ?%s" % term[1])
        return term[1]
    return "'%s'" % str(term[1]).replace("'", "''")


def _sql_objtype(term, bound: set[str]):
    if term[0] == "uri":
        return "'uri'"
    if term[0] in ("lit", "num"):
        return "'literal'"
    _sql_term(term, bound)
    return ("CASE WHEN regexp_matches(%s, '%s') THEN 'uri' "
            "ELSE 'literal' END" % (term[1], URI_SCHEME_RE))


def _sql_lang(term):
    if term[0] == "lit" and len(term) > 2 and term[2]:
        return "'%s'" % term[2]
    return "NULL::VARCHAR"


def _sql_instantiate(bind_sql: str | None, tmpl: list[Triple],
                     full: bool) -> str:
    bound: set[str] = set()
    if bind_sql is not None:
        # compile_sql SELECT * projects the query's variables verbatim
        bound = set(_tmpl_vars(tmpl)) | bound
    parts = []
    for t in tmpl:
        cols = ["%s AS subject" % _sql_term(t.s, bound if bind_sql
                                            else set()),
                "%s AS predicate" % _sql_term(t.p, bound if bind_sql
                                              else set()),
                "%s AS object" % _sql_term(t.o, bound if bind_sql
                                           else set())]
        if full:
            cols += ["%s AS objtype" % _sql_objtype(
                         t.o, bound if bind_sql else set()),
                     "%s AS lang" % _sql_lang(t.o)]
        src = ("(%s) __b" % bind_sql) if bind_sql is not None \
            else "(SELECT 1) __one"
        parts.append(
            "SELECT %s FROM %s WHERE %s IS NOT NULL AND %s IS NOT "
            "NULL AND %s IS NOT NULL"
            % (", ".join(cols), src,
               _sql_term(t.s, bound if bind_sql else set()),
               _sql_term(t.p, bound if bind_sql else set()),
               _sql_term(t.o, bound if bind_sql else set())))
    u = " UNION ALL ".join(parts)
    return ("SELECT DISTINCT ON (subject, predicate, object) * "
            "FROM (%s) __i" % u)


def update_sql(table_sql: str, update: str,
               columns: tuple[str, ...] = ("subject", "predicate",
                                           "object", "objtype", "lang",
                                           "datatype", "source_url",
                                           "context")) -> str:
    """DuckDB twin of :func:`apply_update`: one nested SELECT per op
    producing the updated table with ``columns``."""
    cur = "SELECT %s FROM %s" % (", ".join(columns), table_sql)
    for op in parse_update(update):
        if op.kind == "clear":
            if op.graph is None:
                cur += " WHERE 1 = 0"
            else:
                cur = ("SELECT * FROM (%s) __c WHERE context IS "
                       "DISTINCT FROM '%s'" % (cur, op.graph))
            continue
        bind_sql = (compile_sql("(%s)" % cur, op.where)
                    if op.kind == "modify" else None)
        if op.delete:
            dele = _sql_instantiate(bind_sql, op.delete, full=False)
            cur = ("SELECT __t.* FROM (%s) __t ANTI JOIN (%s) __d "
                   "USING (subject, predicate, object)" % (cur, dele))
        if op.insert:
            ins = _sql_instantiate(bind_sql, op.insert, full=True)
            null_cols = ", ".join(
                c if c in ("subject", "predicate", "object", "objtype",
                           "lang")
                else "NULL AS %s" % c for c in columns)
            cur = ("SELECT * FROM (%s) __t UNION ALL "
                   "SELECT %s FROM (SELECT __n.* FROM (%s) __n "
                   "ANTI JOIN (%s) __t2 "
                   "USING (subject, predicate, object)) __f"
                   % (cur, null_cols, ins, cur))
    return cur
