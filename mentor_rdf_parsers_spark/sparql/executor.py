"""SPARQL → Spark DataFrame executor.

The layer the reference does NOT have (its SPARQL module is parse-only,
/root/reference/src/index.ts:12): compiles the parser's AST into
DataFrame plans over the engine's `triples` table, following the mapping
table in SURVEY.md §2.B:

    BGP                → _compat_join(inner) of triple-pattern scans
    OPTIONAL           → _compat_join(left)
    UNION              → _union (unionByName, term types aligned)
    MINUS              → _compat_join(minus)
    FILTER (NOT) EXISTS→ _compat_join(semi / anti)
    FILTER expr        → where()
    BIND               → withColumn
    VALUES             → createDataFrame + _compat_join
    GRAPH <iri>        → filter on the `g` column
    GRAPH ?var         → internal `__g` column, bound to ?var at exit
    GROUP BY + aggs    → groupBy().agg()
    ORDER/LIMIT/OFFSET → orderBy / offset / limit (row_number per `__g`)
    property paths     → join chains; +/* via operators.paths closure

Solution bindings are carried as one struct column per variable:
``struct<kind string, v string, lang string, dt string>`` with ''
sentinels for absent lang/dt (struct equality with embedded NULLs would
poison join keys); an unbound variable is a NULL struct. Every join of
solutions goes through `_compat_join`, which keeps a plain equi-join on
the shared variables unless one of them can be NULL.

Inside GRAPH ?var the active graph travels as an internal TERM column
`__g`: scans emit it, `_unit` yields one empty solution per named
graph, and every join, path, EXISTS, MINUS and subselect modifier
treats it as one more never-NULL shared key, so everything inside the
GRAPH is evaluated per graph. The GRAPH node binds (or constrains) the
user variable from `__g` and drops it.

Scale notes: triple-pattern scans push constant s/p/o filters down to
the storage scan (predicate pushdown visible in `.explain`); selective
patterns (all-constant or VALUES-bound) stay broadcastable so BGP chains
plan as broadcast joins; `+`/`*` paths reuse the checkpoint-per-round
transitive closure from operators.paths.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..operators.paths import transitive_closure
from ..parsing.terms import serialize_term
from .parser import RDF_TYPE, XSD, parse_sparql

TERM = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("v", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("dt", StringType(), False),
    ]
)

# active-graph column, and the graph context that emits it (GRAPH ?var)
G = "__g"
NAMED = ("named",)

_SPARK_HOW = {"inner": "inner", "left": "left", "semi": "left_semi",
              "anti": "left_anti", "minus": "left_anti"}

_NUMERIC_DTS = {
    XSD + "integer", XSD + "decimal", XSD + "double", XSD + "float",
    XSD + "int", XSD + "long", XSD + "short", XSD + "byte",
    XSD + "nonNegativeInteger", XSD + "positiveInteger",
}


class SparqlExecutionError(Exception):
    pass


def _term_struct(kind: Column, v: Column, lang: Column, dt: Column) -> Column:
    return F.struct(
        kind.alias("kind"), v.alias("v"),
        F.coalesce(lang, F.lit("")).alias("lang"),
        F.coalesce(dt, F.lit("")).alias("dt"),
    )


def _const_term(term) -> Column:
    """AST constant term → TERM struct literal column."""
    if term[0] == "iri":
        return _term_struct(F.lit("iri"), F.lit(term[1]), F.lit(""), F.lit(""))
    if term[0] == "literal":
        _, v, lang, dt = term
        return _term_struct(
            F.lit("literal"), F.lit(v), F.lit(lang or ""), F.lit(dt or "")
        )
    if term[0] == "bnode":
        # bnode in a query pattern acts as a non-projectable variable;
        # callers handle that — a *constant* bnode only appears via VALUES
        return _term_struct(F.lit("bnode"), F.lit(term[1]), F.lit(""), F.lit(""))
    if term[0] == "tripleterm":
        return _term_struct(
            F.lit("tripleterm"), F.lit(serialize_term(term)), F.lit(""), F.lit("")
        )
    raise SparqlExecutionError(f"cannot make constant from {term!r}")


def _nt_escape_sql(v: Column) -> Column:
    """JVM-side NT literal escaping, byte-identical to
    parsing.terms._escape_literal (backslash replaced FIRST = the same
    result as its single-pass regex)."""
    out = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    for ch, esc in (('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
                    ("\t", "\\t"), ("\x08", "\\b"), ("\x0c", "\\f")):
        out = F.replace(out, F.lit(ch), F.lit(esc))
    return out


def _nt_of(t: Column) -> Column:
    """TERM struct → canonical NT 1.2 serialization (JVM-side mirror of
    parsing.terms.serialize_term). Unbound terms yield NULL, which
    null-propagates through the enclosing concat — TRIPLE() of an
    unbound argument is an expression error (unbound), per spec."""
    lit = F.concat(F.lit('"'), _nt_escape_sql(t["v"]), F.lit('"'))
    lit = (
        F.when(t["lang"] != "", F.concat(lit, F.lit("@"), t["lang"]))
        .when((t["dt"] != "") & (t["dt"] != XSD + "string"),
              F.concat(lit, F.lit("^^<"), t["dt"], F.lit(">")))
        .otherwise(lit)
    )
    return (
        F.when(t["kind"] == "iri", F.concat(F.lit("<"), t["v"], F.lit(">")))
        .when(t["kind"] == "bnode", F.concat(F.lit("_:"), t["v"]))
        .when(t["kind"] == "tripleterm", t["v"])
        .when(t["kind"] == "literal", lit)
    )


def _nt_unescape_sql(body: Column) -> Column:
    """Order-safe JVM-side reverse of parsing.terms._escape_literal:
    split on escaped-backslash pairs FIRST (each segment then contains
    no ``\\\\``, so the single-char escapes are unambiguous), unescape
    each segment, rejoin with one backslash. Sequential global replaces
    alone cannot undo escaping (``\\\\n`` = backslash+n, not newline)."""
    segs = F.split(body, r"\\\\", -1)

    def _unesc(x: Column) -> Column:
        for esc, ch in (('\\"', '"'), ("\\n", "\n"), ("\\r", "\r"),
                        ("\\t", "\t"), ("\\b", "\b"), ("\\f", "\f")):
            x = F.replace(x, F.lit(esc), F.lit(ch))
        return x

    return F.array_join(F.transform(segs, _unesc), "\\")


# literal body under NT escaping: runs of (non-quote-non-backslash | escape)
_NT_LIT_BODY = r'(?:[^"\\]|\\.)*'


def _nt_token_struct(tok: Column) -> Column:
    """One NT-serialized term token → TERM struct, fully JVM-side.
    Nested triple terms pass through verbatim (their v IS the canonical
    encoding), so accessor chains like SUBJECT(OBJECT(?t)) recurse at
    the expression level with no Python crossing."""
    body = F.regexp_extract(tok, f'^"({_NT_LIT_BODY})"', 1)
    lang = F.regexp_extract(tok, f'^"{_NT_LIT_BODY}"@(\\S+)$', 1)
    dt = F.regexp_extract(tok, f'^"{_NT_LIT_BODY}"\\^\\^<([^>]*)>$', 1)
    return (
        F.when(tok.startswith("<<("),
               _term_struct(F.lit("tripleterm"), tok, F.lit(""), F.lit("")))
        .when(tok.startswith("<"),
              _term_struct(F.lit("iri"),
                           tok.substr(F.lit(2), F.length(tok) - F.lit(2)),
                           F.lit(""), F.lit("")))
        .when(tok.startswith("_:"),
              _term_struct(F.lit("bnode"),
                           tok.substr(F.lit(3), F.length(tok)),
                           F.lit(""), F.lit("")))
        .when(tok.startswith('"'),
              _term_struct(F.lit("literal"), _nt_unescape_sql(body),
                           lang, dt))
    )


def _tripleterm_component(t: Column, pos: int) -> Column:
    """SUBJECT/PREDICATE/OBJECT over the canonical triple-term encoding
    (`<<( S P O )>>`, produced by parsing.terms.serialize_term) — fully
    JVM-side since r5 (r4 used an Arrow-batched UDF that re-parsed every
    row in Python; VERDICT r4 ask #3). The encoding is regular enough
    for whole-stage codegen: S and P are space-free tokens (RDF 1.2
    limits triple-term subjects to iri/bnode and predicates to iri), so
    O is a pure length-arithmetic substring — correct even when O is a
    literal with spaces or a nested `<<( … )>>` term. Non-triple-term
    inputs yield NULL (unbound, per spec); a claimed triple term whose
    encoding does not decode raises (serialize_term always re-parses,
    so that is data corruption, not user input — surfacing it beats
    silently returning unbound)."""
    v = F.when(t["kind"] == "tripleterm", t["v"])
    head = r"^<<\( (\S+) (\S+) "
    s_tok = F.regexp_extract(v, head, 1)
    p_tok = F.regexp_extract(v, head, 2)
    if pos == 0:
        tok = s_tok
    elif pos == 1:
        tok = p_tok
    else:
        # O spans [len('<<( S P ')+1, len(v)-len(' )>>')] (1-indexed)
        o_start = F.length(s_tok) + F.length(p_tok) + F.lit(7)
        o_len = F.length(v) - F.length(s_tok) - F.length(p_tok) - F.lit(10)
        tok = v.substr(o_start, o_len)
    decoded = (s_tok != "") & (p_tok != "")
    return F.when(v.isNull(), F.lit(None).cast(TERM)).when(
        decoded, _nt_token_struct(tok)
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("corrupt canonical triple-term encoding: "), v
        )).cast(TERM)
    )


def _gcols(df: DataFrame) -> list:
    """`[G]` when `df` carries the active graph, else `[]`."""
    return [G] if G in df.columns else []


def _edges(t: DataFrame, inverse: bool = False) -> DataFrame:
    """Triple rows → (__src, __dst[, __g]) term pairs."""
    s = _term_struct(F.col("s_kind"), F.col("s"), F.lit(None), F.lit(None))
    o = _term_struct(F.col("o_kind"), F.col("o"), F.col("o_lang"), F.col("o_dt"))
    src, dst = (o, s) if inverse else (s, o)
    return t.select(src.alias("__src"), dst.alias("__dst"), *_gcols(t))


def _widened(a, b):
    """`a` with each struct field nullable where `a`'s or `b`'s is, or
    None when the two types differ in more than field nullability."""
    if a == b:
        return a
    if not (isinstance(a, StructType) and isinstance(b, StructType)
            and a.names == b.names):
        return None
    fields = []
    for x, y in zip(a.fields, b.fields):
        t = _widened(x.dataType, y.dataType)
        if t is None:
            return None
        fields.append(StructField(x.name, t, x.nullable or y.nullable))
    return StructType(fields)


def _union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bag union of two solution frames by column name; a column missing
    on one side is UNBOUND there.

    A term built from a triples column has nullable struct fields, a
    constant or VALUES term has NOT NULL ones. Spark unions such inputs
    without a cast and re-types the union's output when the optimizer
    prunes an empty input, after which PushDownLeftSemiAntiJoin fails
    an assertion on a semi/anti join above the union. So each column
    whose types differ only in field nullability is cast to one type.
    """
    def typed(df, types):
        return df.select(*[
            F.col(f"`{c}`").cast(types[c]).alias(c) if c in types
            else F.col(f"`{c}`") for c in df.columns])

    wa, wb = {}, {}
    for c in a.columns:
        if c not in b.columns:
            continue
        ta, tb = a.schema[c].dataType, b.schema[c].dataType
        t = _widened(ta, tb)
        if t is None or ta == tb:
            continue
        if t != ta:
            wa[c] = t
        if t != tb:
            wb[c] = t
    if wa:
        a = typed(a, wa)
    if wb:
        b = typed(b, wb)
    return a.unionByName(b, allowMissingColumns=True)


class Executor:
    """Compiles one parsed query against a triples DataFrame.

    `triples` must have the engine schema (s_kind, s, p, o_kind, o,
    o_lang, o_dt, g_kind, g). The default graph is rows with g IS NULL;
    named graphs are addressed via GRAPH.
    """

    def __init__(
        self,
        triples: DataFrame,
        spark: Optional[SparkSession] = None,
        services: "Optional[dict[str, DataFrame]]" = None,
    ):
        self.triples = triples
        self.spark = spark or triples.sparkSession
        self.services = services or {}
        self._bn = 0

    # ------------------------------------------------------------------ terms
    def _fresh(self) -> str:
        self._bn += 1
        return f"__v{self._bn}"

    def _scan(self, graph: Optional[object]) -> DataFrame:
        """Base scan with graph context applied.

        graph=None → default graph (g IS NULL); ('iri', v) → that named
        graph; NAMED → every named graph, tagged with its name in `__g`."""
        t = self.triples
        if graph is None:
            return t.where(F.col("g").isNull())
        if graph == NAMED:
            return t.where(F.col("g").isNotNull()).withColumn(G, _term_struct(
                F.coalesce(F.col("g_kind"), F.lit("iri")), F.col("g"),
                F.lit(None), F.lit(None)))
        return t.where(F.col("g") == graph[1])

    def _pattern_df(self, s, p, o, graph) -> DataFrame:
        """One triple pattern → DataFrame of variable bindings."""
        t = self._scan(graph)
        cond = []
        proj: dict[str, Column] = {}

        def bind(term, kind_col, v_col, lang_col, dt_col):
            if term[0] in ("var", "bnode"):
                # bnode in pattern = fresh variable scoped to the query
                name = term[1] if term[0] == "var" else "?" + term[1]
                struct = _term_struct(kind_col, v_col, lang_col, dt_col)
                if name in proj:
                    # repeated variable WITHIN one pattern (?a ?a ?a):
                    # every occurrence must bind the same term (found by
                    # the round-5 differential fuzz vs the naive
                    # evaluator — the overwrite silently dropped the
                    # constraint)
                    cond.append(struct.eqNullSafe(proj[name]))
                else:
                    proj[name] = struct
            elif term[0] == "iri":
                cond.append((kind_col == "iri") & (v_col == term[1]))
            elif term[0] == "literal":
                _, v, lang, dt = term
                c = (kind_col == "literal") & (v_col == v)
                c = c & (lang_col.eqNullSafe(F.lit(lang)) if lang else lang_col.isNull())
                if dt in (XSD + "string", None):
                    c = c & (dt_col.isNull() | (dt_col == XSD + "string"))
                else:
                    c = c & (dt_col == dt)
                cond.append(c)
            else:
                raise SparqlExecutionError(f"unsupported pattern term {term!r}")

        bind(s, F.col("s_kind"), F.col("s"), F.lit(None).cast("string"), F.lit(None).cast("string"))
        bind(p, F.col("p_kind"), F.col("p"), F.lit(None).cast("string"), F.lit(None).cast("string"))
        bind(o, F.col("o_kind"), F.col("o"), F.col("o_lang"), F.col("o_dt"))
        for c in cond:
            t = t.where(c)
        if not proj:
            # all-constant pattern: an existence gate, one empty
            # solution (per matching graph under GRAPH ?var)
            if G in t.columns:
                return t.select(G).distinct()
            return t.select(F.lit(1).alias("__exists")).limit(1)
        return t.select([c.alias(n) for n, c in proj.items()] + _gcols(t))

    def _path_df(self, s, path, o, graph) -> DataFrame:
        """Property-path pattern → (start, end) bindings joined to s/o."""
        pairs = self._path_pairs(path, graph)
        out_cols = {}
        df = pairs
        if s[0] == "var":
            out_cols[s[1]] = F.col("__src")
        if o[0] == "var":
            if o[1] in out_cols:
                # `?a <path> ?a`: both endpoints are the same variable —
                # constrain, don't overwrite (same bug class the round-5
                # differential fuzz caught in _pattern_df)
                df = df.where(F.col("__src").eqNullSafe(F.col("__dst")))
            else:
                out_cols[o[1]] = F.col("__dst")
        if s[0] != "var":
            df = df.where(F.col("__src") == _const_term(s))
        if o[0] != "var":
            df = df.where(F.col("__dst") == _const_term(o))
        cols = [c.alias(n) for n, c in out_cols.items()] + _gcols(df)
        if not cols:
            # both endpoints constant: μ0 multiplicity = number of path
            # matches (e.g. `<s> <p>/<q> <o>` with two intermediates is
            # μ0 × 2 per the spec's fresh-middle-variable translation) —
            # no limit(1) here, _compat_join multiplies rows through
            return df.select(F.lit(1).alias("__exists"))
        return df.select(cols)

    def _edge_df(self, pred_iri: str, graph) -> DataFrame:
        return _edges(self._scan(graph).where(
            (F.col("p_kind") == "iri") & (F.col("p") == pred_iri)
        ))

    def _path_pairs(self, path, graph) -> DataFrame:
        """Path → (__src, __dst[, __g]) pairs; under GRAPH ?var every
        step, join and closure stays within one graph via `__g`."""
        if isinstance(path, tuple):  # plain iri predicate
            return self._edge_df(path[1], graph)
        op = path["path"]
        if op == "inv":
            inner = self._path_pairs(path["inner"], graph)
            return inner.select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst"),
                *_gcols(inner),
            )
        if op == "seq":
            # spec §18.4 translates X (P/Q) Y to a join over a fresh
            # middle variable — MULTISET semantics: two distinct
            # intermediate nodes yield two copies of (src, dst). Only
            # the closure modifiers (? * +) are defined set-wise.
            # (round-5 differential fuzz vs the naive evaluator)
            left = self._path_pairs(path["left"], graph)
            right = self._path_pairs(path["right"], graph)
            g = _gcols(left)
            return (
                left.withColumnRenamed("__dst", "__m")
                .join(right.withColumnRenamed("__src", "__m"), ["__m", *g])
                .select("__src", "__dst", *g)
            )
        if op == "alt":
            # bag union per spec (UNION of the two translations)
            return (
                self._path_pairs(path["left"], graph)
                .union(self._path_pairs(path["right"], graph))
            )
        if op == "neg":
            t = self._scan(graph).where(F.col("p_kind") == "iri")
            fwd_excl = [e["iri"][1] for e in path["set"] if not e["inv"]]
            inv_excl = [e["iri"][1] for e in path["set"] if e["inv"]]
            # one solution per matching TRIPLE (multiset): two different
            # non-excluded predicates linking the same (s, o) are two rows
            parts = []
            if fwd_excl or not inv_excl:
                parts.append(_edges(t.where(
                    ~F.col("p").isin(fwd_excl) if fwd_excl else F.lit(True))))
            if inv_excl:
                parts.append(_edges(t.where(~F.col("p").isin(inv_excl)),
                                    inverse=True))
            return parts[0] if len(parts) == 1 else parts[0].union(parts[1])
        if op == "mod":
            inner = self._path_pairs(path["inner"], graph)
            g = _gcols(inner)
            if path["mod"] == "?":
                nodes = self._all_nodes(graph)
                return inner.union(nodes.select(F.col("__n").alias("__src"),
                                                F.col("__n").alias("__dst"),
                                                *g)).distinct()
            # node ids hash the term together with its graph, so one
            # closure run over every named graph never crosses graphs
            closure = transitive_closure(
                inner.select(F.xxhash64(F.to_json("__src"), *g).alias("src"),
                             F.xxhash64(F.to_json("__dst"), *g).alias("dst"))
            )
            # map hashed ids back to terms
            nodes = (
                inner.select(F.col("__src").alias("__n"), *g)
                .union(inner.select(F.col("__dst"), *g))
                .distinct()
                .withColumn("__id", F.xxhash64(F.to_json("__n"), *g))
            )
            pairs = (
                closure.join(nodes.select(F.col("__id").alias("src"),
                                          F.col("__n").alias("__src"), *g), "src")
                .join(nodes.select(F.col("__id").alias("dst"),
                                   F.col("__n").alias("__dst")), "dst")
                .select("__src", "__dst", *g)
            )
            if path["mod"] == "*":
                all_nodes = self._all_nodes(graph)
                pairs = pairs.union(all_nodes.select(
                    F.col("__n").alias("__src"), F.col("__n").alias("__dst"), *g
                )).distinct()
            return pairs
        raise SparqlExecutionError(f"unsupported path {path!r}")

    def _all_nodes(self, graph) -> DataFrame:
        e = _edges(self._scan(graph))
        g = _gcols(e)
        return (
            e.select(F.col("__src").alias("__n"), *g)
            .union(e.select("__dst", *g))
            .distinct()
        )

    # ------------------------------------------------------------- patterns
    def _unit(self, graph=None) -> DataFrame:
        """{μ0}, the join identity: one empty solution — one per named
        graph (as `__g`) under GRAPH ?var."""
        if graph == NAMED:
            return self._scan(NAMED).select(G).distinct()
        return self.spark.range(1).select(F.lit(1).alias("__exists"))

    def _compat_join(self, left: DataFrame, right: DataFrame,
                     how: str = "inner") -> DataFrame:
        """SPARQL's join of compatible solutions, in five modes: `inner`
        (BGP and group joins), `left` (OPTIONAL), `semi` / `anti`
        (FILTER EXISTS / NOT EXISTS over pattern bodies, where §18.6
        substitution equals compatibility) and `minus` (§18.5, which
        also needs a shared variable bound on both sides).

        Two solutions are compatible when every shared variable is equal
        or UNBOUND (NULL) on either side; the merged solution takes the
        bound value. `__g` is shared like a variable but is never NULL.

        A bindings-free frame (only the `__exists` marker) is a multiset
        of empty solutions: k rows = μ0 × k. Joining multiplies
        multiplicities, so zero rows annihilate an inner join and m rows
        replicate the other side m times — a join on TRUE. (The round-5
        differential fuzz caught both a `return other side` shortcut and
        a limit(1) that collapsed union multiplicities.)
        """
        shared = [c for c in left.columns
                  if c in right.columns and c != "__exists"]
        if how == "minus" and not [c for c in shared if c != G]:
            # dom(μ1) ∩ dom(μ2) = ∅: MINUS removes nothing
            return left
        if how in ("semi", "anti", "minus"):
            # existence only: the right side shrinks to its distinct keys
            right = right.select(shared).distinct() if shared else right.limit(1)
        if not shared:
            lv = [c for c in left.columns if c != "__exists"]
            rv = [c for c in right.columns if c != "__exists"]
            out = left.select(*lv or [F.lit(1).alias("__l")]).join(
                right.select(*rv or [F.lit(1).alias("__r")]),
                F.lit(True), _SPARK_HOW[how])
            cols = lv if how in ("semi", "anti") else lv + rv
            return out.select(*cols) if cols else out.select(
                F.lit(1).alias("__exists"))

        left, right = left.drop("__exists"), right.drop("__exists")
        nullable = [c for c in shared
                    if left.schema[c].nullable or right.schema[c].nullable]
        if not nullable:
            return left.join(right, shared, _SPARK_HOW[how])
        if how == "left":
            return _union(self._compat_join(left, right, "inner"),
                          self._compat_join(left, right, "anti"))

        # Split each side into rows with every shared variable bound and
        # rows with some NULL. The all-bound pair is an equi-join; only
        # rows that carry a NULL meet the NULL-tolerant condition.
        def split(df):
            bound = [F.col(f"`{c}`").isNotNull()
                     for c in nullable if df.schema[c].nullable]
            if not bound:
                return df, None
            b = reduce(lambda x, y: x & y, bound)
            return df.where(b), df.where(~b)

        def L(c):
            return F.col(f"__L.`{c}`")

        def R(c):
            return F.col(f"__R.`{c}`")

        cond = reduce(lambda x, y: x & y, [
            (L(c) == R(c)) | L(c).isNull() | R(c).isNull()
            if c in nullable else L(c) == R(c)
            for c in shared
        ])
        if how == "minus":
            cond = cond & reduce(lambda x, y: x | y, [
                L(c).isNotNull() & R(c).isNotNull()
                for c in shared if c != G
            ])

        def tolerant(a, b, h):
            out = a.alias("__L").join(b.alias("__R"), cond, _SPARK_HOW[h])
            if h != "inner":
                return out
            return out.select(
                *[F.coalesce(L(c), R(c)).alias(c) if c in shared
                  else L(c).alias(c) for c in a.columns],
                *[R(c).alias(c) for c in b.columns if c not in shared])

        lb, ln = split(left)
        rb, rn = split(right)
        if how == "inner":
            out = lb.join(rb, shared)
            if rn is not None:
                out = _union(out, tolerant(lb, rn, "inner"))
        else:
            hit = lb.join(rb, shared, "left_semi")
            out = lb.join(rb, shared, "left_anti")
            if rn is not None:
                hit = _union(hit, tolerant(out, rn, "semi"))
                out = tolerant(out, rn, "anti")
            if how == "semi":
                out = hit
        if ln is not None:
            out = _union(out, tolerant(ln, right, how))
        return out

    def _compile_pattern(self, node, graph) -> DataFrame:
        df = self._compile(node, graph)
        if graph == NAMED and G not in df.columns:
            # graph-independent solutions (VALUES, SERVICE, an inner
            # GRAPH) hold in every named graph
            df = self._compat_join(df, self._unit(NAMED))
        return df

    def _compile(self, node, graph) -> DataFrame:
        t = node["type"]
        if t == "bgp":
            # join-order heuristic: most-constant patterns first (smallest
            # scans lead the join chain and stay broadcastable); stable
            # sort keeps shared-variable chains intact otherwise
            def selectivity(tp):
                s_, p_, o_ = tp
                consts = sum(
                    1 for term in (s_, p_, o_)
                    if isinstance(term, tuple) and term[0] in ("iri", "literal")
                )
                return -consts

            ordered = sorted(node["triples"], key=selectivity)
            df: Optional[DataFrame] = None
            for (s, p, o) in ordered:
                if isinstance(p, dict):
                    pat = self._path_df(s, p, o, graph)
                else:
                    pat = self._pattern_df(s, p, o, graph)
                df = pat if df is None else self._compat_join(df, pat)
            return self._unit(graph) if df is None else df
        if t in ("optional", "minus", "bind", "filter"):
            # the parser collapses one-element groups, so these arrive
            # bare: evaluate as the group they came from (a bare OPTIONAL
            # over no match is ONE solution with every variable unbound,
            # a bare MINUS is {μ0} — round-5 differential fuzz)
            return self._compile({"type": "group", "patterns": [node]}, graph)
        if t == "group":
            df = None
            filters = []
            for sub in node["patterns"]:
                kind = sub["type"]
                if kind == "filter":
                    filters.append(sub["expr"])
                elif kind == "minus" and df is None:
                    # Minus({μ0}, Ω) = {μ0}: the empty solution's domain
                    # never overlaps any μ2, so a MINUS that opens a
                    # group removes nothing (spec §18.5) — don't even
                    # evaluate the right side
                    continue
                elif kind in ("optional", "minus"):
                    inner = self._compile_pattern(sub["pattern"], graph)
                    df = self._compat_join(
                        self._unit(graph) if df is None else df, inner,
                        "left" if kind == "optional" else "minus")
                elif kind == "bind":
                    if df is None:
                        df = self._unit(graph)
                    df = df.withColumn(
                        sub["var"], self._expr_term(sub["expr"], df)
                    ).drop("__exists")
                elif kind == "values" and df is not None:
                    df = self._apply_values(df, sub)
                else:
                    inner = self._compile_pattern(sub, graph)
                    df = inner if df is None else self._compat_join(df, inner)
            if df is None:
                df = self._unit(graph)
            for fexpr in filters:
                df = self._apply_filter(df, fexpr, graph)
            return df
        if t == "union":
            left = self._compile_pattern(node["left"], graph)
            right = self._compile_pattern(node["right"], graph)
            return _union(left, right)
        if t == "graph":
            name = node["name"]
            if name[0] != "var":
                return self._compile_pattern(node["pattern"], name)
            # Graph(?v, P) = ⋃ over named graphs g of
            # Join(eval(D[g], P), {?v→g}): P runs once over all named
            # graphs with g in `__g`; ?v, when P bound it too (GRAPH ?a
            # { ?a … }), must agree with g.
            inner = self._compile_pattern(node["pattern"], NAMED)
            v = self._col(inner, name[1])
            return (
                inner.where(v.isNull() | (v == F.col(G)))
                .withColumn(name[1], F.col(G))
                .drop(G)
            )
        if t == "values":
            return self._values_df(node)
        if t == "subselect":
            # a subquery inherits the active graph (§13.3.1: GRAPH sets
            # the context for everything inside, subselects included)
            return self._run_select(node["query"], graph=graph)
        if t == "service":
            # Federation-lite (r5): a SERVICE IRI resolves against the
            # locally registered dataset map (Executor(services={iri:
            # triples_df})) — no network, matching the engine's
            # file-local LOAD posture. The group is evaluated against
            # that dataset's DEFAULT graph (per spec, the remote
            # endpoint's own dataset applies inside SERVICE) and the
            # solutions join back like any group member. The reference
            # is parse-only here too (src/sparql/parser.ts:1251-1259).
            name = node["name"]
            if name[0] == "iri" and name[1] in self.services:
                sub = Executor(
                    self.services[name[1]], self.spark, self.services
                )
                return sub._compile_pattern(node["pattern"], None)
            if node.get("silent"):
                # SERVICE SILENT over an unreachable endpoint yields the
                # single empty solution (identity for the join)
                return self._unit(graph)
            if name[0] != "iri":
                raise SparqlExecutionError(
                    "SERVICE with a variable endpoint is not supported"
                )
            raise SparqlExecutionError(
                f"SERVICE endpoint <{name[1]}> is not a registered local "
                f"dataset (pass services={{iri: triples_df}}); remote "
                f"federation is out of scope"
            )
        raise SparqlExecutionError(f"unsupported pattern {t}")

    def _values_df(self, node) -> DataFrame:
        rows = []
        for row in node["rows"]:
            vals = []
            for term in row:
                if term is None:
                    vals.append(None)
                else:
                    kind = term[0]
                    if kind == "literal":
                        vals.append(("literal", term[1], term[2] or "", term[3] or ""))
                    elif kind == "iri":
                        vals.append(("iri", term[1], "", ""))
                    elif kind == "bnode":
                        vals.append(("bnode", term[1], "", ""))
                    elif kind == "tripleterm":
                        # canonical NT 1.2 encoding — the SAME string the
                        # triples table stores, so VALUES-bound triple
                        # terms join/compare against data rows (repr()
                        # here would silently never match)
                        vals.append(("tripleterm", serialize_term(term), "", ""))
                    else:
                        raise SparqlExecutionError(f"bad VALUES term {term!r}")
            rows.append(tuple(vals))
        schema = StructType(
            [StructField(v, TERM, True) for v in node["vars"]]
        )
        return self.spark.createDataFrame(rows, schema)

    def _apply_values(self, df: DataFrame, node) -> DataFrame:
        """Join VALUES rows honoring UNDEF semantics: an UNDEF cell
        constrains nothing, so rows are grouped by their defined-variable
        mask and each group joins only on its defined vars."""
        from collections import defaultdict

        groups: dict[tuple, list] = defaultdict(list)
        for row in node["rows"]:
            mask = tuple(v for v, cell in zip(node["vars"], row) if cell is not None)
            groups[mask].append([c for c in row if c is not None])
        outs = []
        for mask, rows in groups.items():
            if not mask:
                # each all-UNDEF row is one empty solution: Join(Ω, {μ0})
                # = Ω once PER ROW (two UNDEF rows double the multiset)
                outs.extend(df for _ in rows)
                continue
            vdf = self._values_df({"vars": list(mask), "rows": rows})
            outs.append(self._compat_join(df, vdf))
        if not outs:
            return df.limit(0)
        res = outs[0]
        for x in outs[1:]:
            res = _union(res, x)
        return res

    def _apply_filter(self, df: DataFrame, expr, graph) -> DataFrame:
        if isinstance(expr, dict) and expr.get("op") == "exists":
            # §18.6 substitution over a pattern body = compatibility: an
            # outer variable left UNBOUND stays free in the substituted
            # pattern, an inner one unbound matches any outer value.
            # Without shared variables this is a lazy join against
            # inner.limit(1) (per graph under GRAPH ?var, via `__g`).
            inner = self._compile_pattern(expr["pattern"], graph)
            return self._compat_join(df, inner, "anti" if expr["neg"] else "semi")
        return df.where(self._expr_bool(expr, df))

    # ---------------------------------------------------------- expressions
    def _col(self, df: DataFrame, name: str) -> Column:
        if name in df.columns:
            return F.col(name)
        return F.lit(None).cast(TERM)

    def _expr_term(self, e, df: DataFrame) -> Column:
        """Expression → TERM struct column."""
        if isinstance(e, tuple):
            if e[0] == "var":
                return self._col(df, e[1])
            return _const_term(e)
        op = e["op"]
        if op == "call":
            return self._call_term(e, df)
        if op in ("+", "-", "*", "/", "neg"):
            n = self._expr_num(e, df)
            return _term_struct(
                F.lit("literal"), F.format_string("%s", n.cast("string")),
                F.lit(""), F.lit(XSD + "double"),
            )
        if op in ("=", "!=", "<", ">", "<=", ">=", "&&", "||", "!", "in",
                  "not in", "exists"):
            # three-valued: a type ERROR (NULL boolean) must surface as
            # an ERROR term (NULL struct) so BIND leaves the target
            # UNBOUND — `otherwise("false")` silently converted errors
            # to false (round-5 differential fuzz)
            b = self._expr_bool(e, df)
            v = F.when(b, F.lit("true")).when(~b, F.lit("false"))
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("literal"), v, F.lit(""),
                             F.lit(XSD + "boolean")),
            )
        raise SparqlExecutionError(f"unsupported expression {op}")

    def _v(self, e, df) -> Column:
        return self._expr_term(e, df)["v"]

    def _expr_num(self, e, df: DataFrame) -> Column:
        if isinstance(e, tuple):
            if e[0] == "var":
                return self._col(df, e[1])["v"].cast("double")
            if e[0] == "literal":
                return F.lit(float(e[1]))
            raise SparqlExecutionError(f"non-numeric term {e!r}")
        op = e["op"]
        if op == "+":
            return self._expr_num(e["args"][0], df) + self._expr_num(e["args"][1], df)
        if op == "-":
            return self._expr_num(e["args"][0], df) - self._expr_num(e["args"][1], df)
        if op == "*":
            return self._expr_num(e["args"][0], df) * self._expr_num(e["args"][1], df)
        if op == "/":
            return self._expr_num(e["args"][0], df) / self._expr_num(e["args"][1], df)
        if op == "neg":
            return -self._expr_num(e["args"][0], df)
        if op == "call":
            name = e["name"]
            if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
                inner = self._expr_num(e["args"][0], df)
                return {"ABS": F.abs, "CEIL": F.ceil, "FLOOR": F.floor,
                        "ROUND": F.round}[name](inner).cast("double")
            if name == "STRLEN":
                return F.length(self._v(e["args"][0], df)).cast("double")
        return self._expr_term(e, df)["v"].cast("double")

    def _numericish(self, e, df) -> tuple[Column, Column]:
        """(is_numeric, numeric_value) for comparison dispatch."""
        t = self._expr_term(e, df)
        isnum = t["dt"].isin(*_NUMERIC_DTS)
        return isnum, t["v"].cast("double")

    def _expr_bool(self, e, df: DataFrame) -> Column:
        if isinstance(e, tuple):
            if e[0] == "var":
                c = self._col(df, e[1])
                return (c["dt"] == XSD + "boolean") & (c["v"] == "true")
            if e[0] == "literal":
                return F.lit(e[1] == "true")
            raise SparqlExecutionError(f"non-boolean term {e!r}")
        op = e["op"]
        if op == "&&":
            return self._expr_bool(e["args"][0], df) & self._expr_bool(e["args"][1], df)
        if op == "||":
            return self._expr_bool(e["args"][0], df) | self._expr_bool(e["args"][1], df)
        if op == "!":
            return ~self._expr_bool(e["args"][0], df)
        if op in ("=", "!=", "<", ">", "<=", ">="):
            # THREE-VALUED (§17.2/§17.3): a type error is a NULL Column —
            # Spark's AND/OR/NOT over NULL is exactly SPARQL's Kleene
            # tables, `where()` drops NULL like it drops false, and an
            # un-defaulted `F.when` chain yields NULL for the error arm.
            # The old two-valued fallbacks ("a"@en = "a" → false instead
            # of error, string-ordering any mixed pair) survived plain
            # FILTERs but inverted under `!` — caught by the round-5
            # differential fuzz.
            l, r = e["args"]
            lt, rt = self._expr_term(l, df), self._expr_term(r, df)
            lnum, lval = self._numericish(l, df)
            rnum, rval = self._numericish(r, df)
            both_num = lnum & rnum
            _simple = lambda t: (  # noqa: E731 — plain/xsd:string literal
                (t["kind"] == "literal") & t["dt"].isin("", XSD + "string")
                & (t["lang"] == "")
            )
            both_simple = _simple(lt) & _simple(rt)
            same_term = (
                (lt["kind"] == rt["kind"]) & (lt["v"] == rt["v"])
                & (lt["lang"] == rt["lang"]) & (lt["dt"] == rt["dt"])
            )
            if op in ("=", "!="):
                both_lit = (lt["kind"] == "literal") & (rt["kind"] == "literal")
                eq = (
                    # unbound operand FIRST: the final `otherwise` must
                    # never see it (unbound = unbound is an ERROR, not
                    # false — stress fuzz on BIND((?a = ?a) AS ?e))
                    F.when(lt.isNull() | rt.isNull(),
                           F.lit(None).cast("boolean"))
                    .when(both_num, lval == rval)    # value compare; bad lexical → NULL
                    .when(same_term, F.lit(True))    # RDFterm-equal
                    .when(both_simple, F.lit(False))  # same (string) type, ≠ values
                    .when(both_lit, F.lit(None).cast("boolean"))  # incomparable literals
                    .otherwise(F.lit(False))         # distinct non-literal terms
                )
                return ~eq if op == "!=" else eq
            cmpmap = {
                "<": lambda a, b: a < b, ">": lambda a, b: a > b,
                "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b,
            }
            # ordering is defined for numeric×numeric and string×string
            # (fn:compare = codepoint order = Spark UTF8 binary order);
            # every other pairing is a type error → NULL (no otherwise)
            return (
                F.when(both_num, cmpmap[op](lval, rval))
                .when(both_simple, cmpmap[op](lt["v"], rt["v"]))
            )
        if op in ("in", "not in"):
            # IN ≡ (x = t1 || x = t2 || …): fold with Kleene OR so a
            # type-erroring comparison poisons a non-match but not a hit
            cond = F.lit(False)
            for opt in e["args"][1:]:
                cond = cond | self._expr_bool(
                    {"op": "=", "args": [e["args"][0], opt]}, df)
            return ~cond if op == "not in" else cond
        if op == "call":
            return self._call_bool(e, df)
        if op == "exists":
            raise SparqlExecutionError("EXISTS must be a top-level filter")
        raise SparqlExecutionError(f"unsupported boolean expr {op}")

    def _call_bool(self, e, df: DataFrame) -> Column:
        name = e["name"]
        args = e["args"]
        if name == "BOUND":
            return self._col(df, args[0][1]).isNotNull()
        if name in ("ISIRI", "ISURI"):
            return self._expr_term(args[0], df)["kind"] == "iri"
        if name == "ISBLANK":
            return self._expr_term(args[0], df)["kind"] == "bnode"
        if name == "ISLITERAL":
            return self._expr_term(args[0], df)["kind"] == "literal"
        if name == "ISNUMERIC":
            t = self._expr_term(args[0], df)
            return (t["kind"] == "literal") & t["dt"].isin(*_NUMERIC_DTS)
        if name == "ISTRIPLE":
            return self._expr_term(args[0], df)["kind"] == "tripleterm"
        if name == "REGEX":
            target = self._v(args[0], df)
            pat = self._v(args[1], df)
            if len(args) > 2:
                flags = self._v(args[2], df)
                pat = F.concat(F.lit("(?"), flags, F.lit(")"), pat)
            return F.regexp_like(target, pat)
        if name == "CONTAINS":
            return F.contains(self._v(args[0], df), self._v(args[1], df))
        if name == "STRSTARTS":
            return F.startswith(self._v(args[0], df), self._v(args[1], df))
        if name == "STRENDS":
            return F.endswith(self._v(args[0], df), self._v(args[1], df))
        if name == "SAMETERM":
            a = self._expr_term(args[0], df)
            b = self._expr_term(args[1], df)
            return (a["kind"] == b["kind"]) & (a["v"] == b["v"]) & \
                (a["lang"] == b["lang"]) & (a["dt"] == b["dt"])
        if name == "LANGMATCHES":
            tag = self._v(args[0], df)
            rng = self._v(args[1], df)
            return F.when(rng == "*", tag != "").otherwise(
                F.lower(tag) == F.lower(rng)
            )
        if name in ("HASLANG",):
            return self._expr_term(args[0], df)["lang"] != ""
        if name in ("HASLANGDIR",):
            return self._expr_term(args[0], df)["lang"].contains("--")
        # boolean-valued fallthrough: treat term as boolean literal
        t = self._call_term(e, df)
        return (t["dt"] == XSD + "boolean") & (t["v"] == "true")

    _BOOLEAN_CALLS = frozenset({
        "BOUND", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
        "ISTRIPLE", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS",
        "SAMETERM", "LANGMATCHES", "HASLANG", "HASLANGDIR",
    })

    def _call_term(self, e, df: DataFrame) -> Column:
        name = e["name"]
        args = e["args"]

        if name in self._BOOLEAN_CALLS:
            # boolean builtin in a TERM context (e.g. BIND(BOUND(?a) AS
            # ?e)) → xsd:boolean literal; NULL (type error) propagates
            # to a NULL struct so the BIND target stays unbound
            b = self._call_bool(e, df)
            v = F.when(b, F.lit("true")).when(~b, F.lit("false"))
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("literal"), v, F.lit(""),
                             F.lit(XSD + "boolean")),
            )

        def lit_str(c: Column) -> Column:
            return _term_struct(F.lit("literal"), c, F.lit(""), F.lit(""))

        if name == "STR":
            return lit_str(self._expr_term(args[0], df)["v"])
        if name == "LANG":
            return lit_str(self._expr_term(args[0], df)["lang"])
        if name == "LANGDIR":
            lang = self._expr_term(args[0], df)["lang"]
            return lit_str(
                F.when(lang.contains("--"), F.substring_index(lang, "--", -1))
                .otherwise(F.lit(""))
            )
        if name == "DATATYPE":
            t = self._expr_term(args[0], df)
            v = F.when(t["lang"] != "", F.lit(RDF_TYPE[1].rsplit("#", 1)[0] + "#langString")) \
                .when(t["dt"] != "", t["dt"]).otherwise(F.lit(XSD + "string"))
            return _term_struct(F.lit("iri"), v, F.lit(""), F.lit(""))
        if name in ("IRI", "URI"):
            return _term_struct(F.lit("iri"), self._v(args[0], df), F.lit(""), F.lit(""))
        if name == "UCASE":
            return lit_str(F.upper(self._v(args[0], df)))
        if name == "LCASE":
            return lit_str(F.lower(self._v(args[0], df)))
        if name == "CONCAT":
            return lit_str(F.concat(*[self._v(a, df) for a in args]))
        if name == "SUBSTR":
            src = self._v(args[0], df)
            start = self._expr_num(args[1], df).cast("int")
            if len(args) > 2:
                length = self._expr_num(args[2], df).cast("int")
                return lit_str(src.substr(start, length))
            return lit_str(src.substr(start, F.lit(1 << 30)))
        if name == "STRBEFORE":
            a, b = self._v(args[0], df), self._v(args[1], df)
            pos = F.instr(a, b)
            return lit_str(F.when(pos > 0, a.substr(F.lit(1), pos - 1)).otherwise(F.lit("")))
        if name == "STRAFTER":
            a, b = self._v(args[0], df), self._v(args[1], df)
            pos = F.instr(a, b)
            return lit_str(
                F.when(pos > 0, a.substr(pos + F.length(b), F.lit(1 << 30))).otherwise(F.lit(""))
            )
        if name == "REPLACE":
            return lit_str(F.regexp_replace(
                self._v(args[0], df), self._v(args[1], df), self._v(args[2], df)
            ))
        if name == "ENCODE_FOR_URI":
            return lit_str(F.url_encode(self._v(args[0], df)))
        if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            v = self._v(args[0], df)
            col = {"MD5": F.md5(v), "SHA1": F.sha1(v),
                   "SHA256": F.sha2(v, 256), "SHA384": F.sha2(v, 384),
                   "SHA512": F.sha2(v, 512)}[name]
            return lit_str(col)
        if name == "COALESCE":
            return F.coalesce(*[self._expr_term(a, df) for a in args])
        if name == "IF":
            return F.when(
                self._expr_bool(args[0], df), self._expr_term(args[1], df)
            ).otherwise(self._expr_term(args[2], df))
        if name == "STRLEN":
            n = F.length(self._v(args[0], df))
            return _term_struct(F.lit("literal"), n.cast("string"), F.lit(""),
                                F.lit(XSD + "integer"))
        if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
            n = self._expr_num(e, df)
            return _term_struct(F.lit("literal"), n.cast("string"), F.lit(""),
                                F.lit(XSD + "double"))
        if name == "STRDT":
            return _term_struct(F.lit("literal"), self._v(args[0], df), F.lit(""),
                                self._expr_term(args[1], df)["v"])
        if name == "STRLANG":
            return _term_struct(F.lit("literal"), self._v(args[0], df),
                                self._v(args[1], df), F.lit(""))
        if name == "BNODE":
            if not args:
                return _term_struct(F.lit("bnode"),
                                    F.concat(F.lit("gen"), F.monotonically_increasing_id().cast("string")),
                                    F.lit(""), F.lit(""))
            return _term_struct(F.lit("bnode"), self._v(args[0], df), F.lit(""), F.lit(""))
        if name == "UUID":
            return _term_struct(F.lit("iri"), F.concat(F.lit("urn:uuid:"), F.expr("uuid()")),
                                F.lit(""), F.lit(""))
        if name == "STRUUID":
            return lit_str(F.expr("uuid()"))
        if name == "NOW":
            return _term_struct(
                F.lit("literal"),
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"),
                F.lit(""), F.lit(XSD + "dateTime"),
            )
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            ts = F.to_timestamp(self._v(args[0], df))
            col = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                   "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second}[name](ts)
            return _term_struct(F.lit("literal"), col.cast("string"), F.lit(""),
                                F.lit(XSD + "integer"))
        if name in ("SUBJECT", "PREDICATE", "OBJECT"):
            pos = {"SUBJECT": 0, "PREDICATE": 1, "OBJECT": 2}[name]
            return _tripleterm_component(self._expr_term(args[0], df), pos)
        if name == "TRIPLE":
            # constructor: canonical NT 1.2 encoding built JVM-side, byte-
            # identical to parsing.terms.serialize_term so constructed
            # terms join/compare against table-sourced triple terms
            s, p, o = (self._expr_term(a, df) for a in args[:3])
            v = F.concat(F.lit("<<( "), _nt_of(s), F.lit(" "), _nt_of(p),
                         F.lit(" "), _nt_of(o), F.lit(" )>>"))
            # an unbound argument null-propagates through the concat; per
            # SPARQL 1.2 the constructor then errors → the BIND target is
            # UNBOUND, so the WHOLE struct must be NULL (a half-bound
            # kind='tripleterm' shell would make BOUND() true and emit a
            # malformed term row)
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("tripleterm"), v, F.lit(""), F.lit("")),
            )
        raise SparqlExecutionError(f"unsupported builtin {name}")

    # ---------------------------------------------------------- aggregates
    def _agg_col(self, agg, df: DataFrame) -> Column:
        name = agg["name"]
        if name == "COUNT" and agg["arg"] == "*":
            return F.count("*").cast("string")
        target = self._expr_term(agg["arg"], df)
        v = target["v"]
        if agg["distinct"]:
            if name == "COUNT":
                return F.count_distinct(target).cast("string")
            v_num = v.cast("double")
            if name == "SUM":
                return F.sum_distinct(v_num).cast("string")
        num = v.cast("double")
        if name == "COUNT":
            return F.count(target).cast("string")
        if name == "SUM":
            return F.sum(num).cast("string")
        if name == "AVG":
            return F.avg(num).cast("string")
        if name == "MIN":
            # numeric min when any value parses as a number, else lexical
            # (SPARQL leaves mixed-type aggregation to the engine)
            return F.coalesce(F.min(v.try_cast("double")).cast("string"), F.min(v))
        if name == "MAX":
            return F.coalesce(F.max(v.try_cast("double")).cast("string"), F.max(v))
        if name == "SAMPLE":
            return F.first(v, ignorenulls=True)
        if name == "GROUP_CONCAT":
            sep = agg["separator"] if agg["separator"] is not None else " "
            col = F.array_sort(
                F.collect_set(v) if agg["distinct"] else F.collect_list(v)
            )
            return F.array_join(col, sep)
        raise SparqlExecutionError(f"unsupported aggregate {name}")

    # ------------------------------------------------------------- queries
    def _run_select(self, q, graph=None) -> DataFrame:
        df = self._compile_pattern(q["where"], graph)
        if q.get("values"):
            vdf = self._values_df(q["values"])
            df = self._compat_join(df, vdf)
        mods = q.get("modifiers", {})
        proj = q["projection"]
        # a subselect under GRAPH ?var evaluates PER NAMED GRAPH (§13.3):
        # `__g` rides through the projection, so DISTINCT, GROUP BY and
        # the ORDER BY/LIMIT/OFFSET slice all partition by graph and the
        # outer join stays correlated to the active graph
        g = _gcols(df)

        group_by = mods.get("group_by")
        has_agg = any(p[0] == "expr" and _has_agg(p[1]) for p in proj if proj != "*")
        if group_by or has_agg:
            keys = []
            for gb in group_by or []:
                if gb[0] == "var":
                    keys.append(gb[1])
                else:
                    alias = gb[2] or self._fresh()
                    df = df.withColumn(alias, self._expr_term(gb[1], df))
                    keys.append(alias)
            aggs = []
            out_names = []
            for p in proj:
                if p[0] == "var":
                    if p[1] not in keys:
                        raise SparqlExecutionError(
                            f"?{p[1]} must appear in GROUP BY"
                        )
                    out_names.append(p[1])
                else:
                    expr, alias = p[1], p[2]
                    aggs.append(self._agg_expr_struct(expr, df).alias(alias))
                    out_names.append(alias)
            keys += g
            gdf = df.groupBy(*[F.col(k) for k in keys]) if keys else df.groupBy()
            df = gdf.agg(*aggs) if aggs else gdf.agg(F.count("*").alias("__n")).drop("__n")
            for h in mods.get("having", []):
                df = df.where(self._expr_bool(h, df))
            df = df.select(*[F.col(n) for n in out_names + g])
        else:
            if proj == "*":
                cols = [c for c in df.columns if not c.startswith("__") and not c.startswith("?")]
                df = df.select(*cols, *g) if cols else df
            else:
                sel = []
                for p in proj:
                    if p[0] == "var":
                        sel.append(self._col(df, p[1]).alias(p[1]))
                    else:
                        sel.append(self._expr_term(p[1], df).alias(p[2]))
                df = df.select(*sel, *g)

        if q.get("distinct") or q.get("reduced"):
            df = df.dropDuplicates()
        order = []
        for direction, expr in mods.get("order_by") or []:
            if isinstance(expr, tuple) and expr[0] == "var" and expr[1] in df.columns:
                c = F.when(
                    F.col(expr[1])["dt"].isin(*_NUMERIC_DTS),
                    F.col(expr[1])["v"].cast("double"),
                ).otherwise(F.lit(None))
                bases = (c, F.col(expr[1])["v"])
            else:
                bases = (self._expr_term(expr, df)["v"],)
            order += [b.desc() if direction == "desc" else b.asc() for b in bases]
        offset = mods.get("offset") or 0
        limit = mods.get("limit")
        if g and (offset or limit is not None):
            # the slice applies within each graph: number rows per `__g`
            rn = F.row_number().over(
                Window.partitionBy(G).orderBy(*order or [F.lit(1)]))
            df = df.withColumn("__rn", rn).where(F.col("__rn") > offset)
            if limit is not None:
                df = df.where(F.col("__rn") <= offset + limit)
            return df.drop("__rn")
        if order:
            df = df.orderBy(*order)
        if offset:
            # Native Offset node (Spark >= 3.4). With ORDER BY + LIMIT the
            # planner fuses sort/offset/limit into TakeOrderedAndProject
            # (no global single-partition window — the previous
            # Window.orderBy(monotonically_increasing_id()) collapsed the
            # whole result set into one task to number rows). Without
            # ORDER BY, SPARQL 1.2 §18.5 makes OFFSET an arbitrary slice,
            # so whatever slice Offset picks is conformant.
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _agg_expr_struct(self, expr, df) -> Column:
        """Aggregate (possibly wrapped) expression → TERM struct aggregate."""
        if isinstance(expr, dict) and expr.get("op") == "agg":
            v = self._agg_col(expr, df)
            dt = F.lit("") if expr["name"] in ("SAMPLE", "GROUP_CONCAT") else F.lit(XSD + "double")
            if expr["name"] == "COUNT":
                dt = F.lit(XSD + "integer")
            return F.struct(
                F.lit("literal").alias("kind"), v.cast("string").alias("v"),
                F.lit("").alias("lang"), dt.alias("dt"),
            )
        raise SparqlExecutionError("projection expression must be an aggregate here")

    # public API ------------------------------------------------------------
    def run(self, q) -> DataFrame:
        form = q["form"]
        if form == "select":
            return self._run_select(q)
        if form == "ask":
            inner = Executor(self.triples, self.spark)
            df = inner._compile_pattern(q["where"], None)
            return df.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
        if form == "construct":
            df = self._compile_pattern(q["where"], None)
            outs = []
            for (s, p, o) in q["template"]:
                if isinstance(p, dict):
                    raise SparqlExecutionError("paths not allowed in CONSTRUCT template")
                st = self._expr_term(s, df) if s[0] == "var" else _const_term(s)
                pt = self._expr_term(p, df) if p[0] == "var" else _const_term(p)
                ot = self._expr_term(o, df) if o[0] == "var" else _const_term(o)
                # §16.2: a solution that leaves a template variable
                # unbound, or instantiates an invalid RDF triple
                # (literal subject, non-IRI predicate), contributes
                # nothing — drop, don't emit NULL/malformed rows
                # (round-5 differential fuzz)
                keep = (
                    st.isNotNull() & pt.isNotNull() & ot.isNotNull()
                    & (st["kind"] != "literal") & (pt["kind"] == "iri")
                )
                outs.append(df.where(keep).select(
                    st["kind"].alias("s_kind"), st["v"].alias("s"),
                    pt["v"].alias("p"),
                    ot["kind"].alias("o_kind"), ot["v"].alias("o"),
                    F.when(ot["lang"] == "", None).otherwise(ot["lang"]).alias("o_lang"),
                    F.when(ot["dt"] == "", None).otherwise(ot["dt"]).alias("o_dt"),
                ))
            out = outs[0]
            for x in outs[1:]:
                out = out.unionByName(x)
            return out.dropDuplicates()
        if form == "describe":
            # the described-IRI set stays a DataFrame end to end (never
            # collected to the driver — at scale the binding set can be
            # arbitrarily large); the store is then LEFT SEMI joined on
            # s and on o. Constant targets come from the query text, so
            # a driver-side literal frame for them is bounded and fine.
            const_iris = [
                t[1] for t in (q["targets"] if q["targets"] != "*" else [])
                if t[0] == "iri"
            ]
            parts = []
            if const_iris:
                parts.append(self.spark.createDataFrame(
                    [(i,) for i in const_iris], "__iri string"))
            if q["where"] is not None:
                df = self._compile_pattern(q["where"], None)
                if q["targets"] == "*":
                    var_targets = [c for c in df.columns if not c.startswith("__")]
                else:
                    var_targets = [t[1] for t in q["targets"] if t[0] == "var"]
                for c in var_targets:
                    parts.append(
                        df.where(F.col(c).isNotNull() & (F.col(c)["kind"] == "iri"))
                        .select(F.col(c)["v"].alias("__iri"))
                    )
            if not parts:
                return self.triples.limit(0)
            iris = parts[0]
            for p in parts[1:]:
                iris = iris.union(p)
            iris = iris.distinct()
            on_s = self.triples.join(
                iris, self.triples["s"] == iris["__iri"], "left_semi")
            on_o = self.triples.join(
                iris, self.triples["o"] == iris["__iri"], "left_semi")
            return on_s.union(on_o).dropDuplicates()
        raise SparqlExecutionError(f"unsupported form {form}")


def _has_agg(expr) -> bool:
    if isinstance(expr, dict):
        if expr.get("op") == "agg":
            return True
        return any(_has_agg(v) for v in expr.values() if isinstance(v, (dict, list)))
    return False


def execute(
    query: str, triples: DataFrame, simplify: bool = True,
    services: "Optional[dict[str, DataFrame]]" = None,
) -> DataFrame:
    """Parse + execute a SPARQL query over the engine triples table.

    With simplify=True (default), SELECT results expose one plain string
    column per variable (the term's lexical value, NULL when unbound) —
    the driver/oracle-friendly shape. simplify=False keeps the full
    term structs (kind, v, lang, dt).

    ``services`` maps SERVICE endpoint IRIs to locally registered
    triples DataFrames (federation-lite — no network); an unregistered
    endpoint raises unless SERVICE SILENT."""
    q = parse_sparql(query)
    if q.get("type") == "update":
        raise SparqlExecutionError(
            "updates are executed by the pipeline materializer, not execute()"
        )
    df = Executor(triples, services=services).run(q)
    if simplify and q["form"] == "select":
        cols = []
        for name in df.columns:
            field = dict(zip(df.columns, df.schema.fields))[name]
            if isinstance(field.dataType, StructType):
                cols.append(F.col(name)["v"].alias(name))
            else:
                cols.append(F.col(name))
        df = df.select(*cols)
    return df
