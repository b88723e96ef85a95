"""SPARQL Update execution over the engine's triples DataFrame.

Maps the reference's parsed-only Update surface
(/root/reference/src/sparql/parser.ts:874-1130) onto DataFrame
set-algebra, per SURVEY.md §2.B: INSERT/DELETE DATA are appends/anti-
joins of constant quad sets; DELETE WHERE and MODIFY instantiate
templates against WHERE bindings; CLEAR/DROP/ADD/MOVE/COPY operate on
the `g` column. All operations are pure — they return a NEW triples
DataFrame; materialization (e.g. an Iceberg MERGE in production) is the
caller's write."""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parsing.terms import XSD_STRING, quad_to_row
from .executor import Executor, SparqlExecutionError
from .parser import parse_sparql

_KEY = ["s_kind", "s", "p", "o_kind", "o", "o_lang", "o_dt", "g"]


def _default_fetcher(iri: str) -> str:
    """LOAD fetcher for ``file://`` IRIs and plain paths only — this
    environment has no network; callers inject an HTTP fetcher where one
    exists."""
    from urllib.parse import unquote, urlparse

    if iri.startswith("file://"):
        path = unquote(urlparse(iri).path)
    elif "://" in iri:
        raise SparqlExecutionError(
            f"LOAD: default fetcher only resolves file:// IRIs, got {iri}"
        )
    else:
        path = iri
    with open(path, encoding="utf-8") as f:
        return f.read()


def _parse_loaded(iri: str, body: str) -> list:
    """Parse a fetched document by its extension into quad records."""
    from ..parsing.n3 import parse_n3
    from ..parsing.ntriples import parse_ntriples
    from ..parsing.turtle import parse_turtle

    low = iri.lower()
    if low.endswith(".nt"):
        quads, errors = parse_ntriples(body)
    elif low.endswith(".nq"):
        quads, errors = parse_ntriples(body, nquads=True)
    elif low.endswith(".trig"):
        quads, errors = parse_turtle(body, trig=True)
    elif low.endswith(".n3"):
        quads, errors = parse_n3(body)
    else:  # default content type for LOAD: Turtle
        quads, errors = parse_turtle(body)
    if errors:
        raise SparqlExecutionError(f"LOAD: document failed to parse: {errors[0]}")
    return quads


def _has_var(term) -> bool:
    """A variable anywhere in a term, inside triple terms too."""
    return term is not None and (
        term[0] == "var" or term[0] == "tripleterm" and any(map(_has_var, term[1])))


def _instantiate(ex: Executor, bindings: DataFrame, quads) -> DataFrame:
    """Template quads + bindings → triples-schema DataFrame."""
    outs = []
    for (s, p, o, g) in quads:
        st = ex._expr_term(s, bindings)
        pt = ex._expr_term(p, bindings)
        ot = ex._expr_term(o, bindings)
        cols = [
            F.lit("update").alias("doc_id"),
            st["kind"].alias("s_kind"), st["v"].alias("s"),
            pt["kind"].alias("p_kind"), pt["v"].alias("p"),
            ot["kind"].alias("o_kind"), ot["v"].alias("o"),
            F.when(ot["lang"] == "", None).otherwise(ot["lang"]).alias("o_lang"),
            F.when(ot["dt"] == "", None).otherwise(ot["dt"]).alias("o_dt"),
        ]
        if g is None:
            cols += [F.lit(None).cast("string").alias("g_kind"),
                     F.lit(None).cast("string").alias("g")]
        elif g[0] == "var":
            gt = ex._expr_term(g, bindings)
            cols += [gt["kind"].alias("g_kind"), gt["v"].alias("g")]
        else:
            cols += [F.lit(g[0]).alias("g_kind"), F.lit(g[1]).alias("g")]
        cols += [F.lit(None).cast("int").alias(c) for c in ("s_off", "p_off", "o_off")]
        out = bindings.select(*cols)
        # rows where any template var was unbound are skipped (spec)
        outs.append(out.where(F.col("s").isNotNull() & F.col("p").isNotNull()
                              & F.col("o").isNotNull()))
    res = outs[0]
    for x in outs[1:]:
        res = res.unionByName(x)
    return res.dropDuplicates(_KEY)


def _match_key(df: DataFrame) -> list:
    """``_KEY`` columns with a literal's missing datatype read as
    xsd:string: ``"x"`` and ``"x"^^xsd:string`` are one RDF term, and
    stored rows keep whichever spelling they have."""
    plain = (df["o_kind"] == "literal") & df["o_lang"].isNull()
    dt = F.when(plain, F.coalesce(df["o_dt"], F.lit(XSD_STRING))).otherwise(df["o_dt"])
    return [dt if c == "o_dt" else df[c] for c in _KEY]


def _remove(triples: DataFrame, victims: DataFrame) -> DataFrame:
    victims = victims.select(_KEY).dropDuplicates()
    return triples.join(
        victims,
        on=[a.eqNullSafe(b) for a, b in zip(_match_key(triples), _match_key(victims))],
        how="left_anti",
    )


def execute_update(
    update_text: str, triples: DataFrame,
    fetcher: Optional[Callable[[str], str]] = None,
) -> DataFrame:
    """Parse and apply a SPARQL Update (possibly a ';'-sequence) to the
    triples DataFrame; returns the new graph.

    ``fetcher(iri) -> document text`` services LOAD; the default resolves
    ``file://`` IRIs / local paths only (no network here)."""
    parsed = parse_sparql(update_text)
    if parsed.get("type") != "update":
        raise SparqlExecutionError("not an update")
    spark = triples.sparkSession
    current = triples
    for op in parsed["operations"]:
        kind = op["op"]
        if kind in ("insertdata", "deletedata"):
            # rows made by the same `quad_to_row` as extract and LOAD, so
            # a stored term (a triple term's canonical string too) equals theirs
            if any(_has_var(t) for q in op["quads"] for t in q):
                raise SparqlExecutionError("variables not allowed in DATA blocks")
            data = spark.createDataFrame(
                [quad_to_row("update", s, p, o, g, None, None, None)
                 for (s, p, o, g) in op["quads"]],
                current.schema,
            )
            if kind == "insertdata":
                current = current.unionByName(data).dropDuplicates(_KEY)
            else:
                current = _remove(current, data)
        elif kind == "deletewhere":
            # DELETE WHERE { QP } = DELETE { QP } WHERE { QP }: one group of
            # the default-graph triples plus one GRAPH node per graph
            # context, so GRAPH ?g binds ?g at its exit like any query
            ex = Executor(current, spark)
            by_graph: dict = {}
            for (s, p, o, g) in op["quads"]:
                by_graph.setdefault(g, []).append((s, p, o))
            where = []
            for g, tps in by_graph.items():
                bgp = {"type": "bgp", "triples": tps}
                where.append(bgp if g is None else
                             {"type": "graph", "name": g, "pattern": bgp})
            bindings = ex._compile_pattern(
                {"type": "group", "patterns": where}, None)
            current = _remove(current, _instantiate(ex, bindings, op["quads"]))
        elif kind == "modify":
            using = op.get("using") or []
            if using:
                # USING re-defines the WHERE dataset (and overrides WITH
                # there; WITH still applies to the templates): default
                # graph = union of USING graphs re-labelled as default,
                # named graphs = the USING NAMED ones.
                default_iris = [u["iri"][1] for u in using if not u["named"]]
                named_iris = [u["iri"][1] for u in using if u["named"]]
                parts = []
                if default_iris:
                    parts.append(
                        current.where(F.col("g").isin(default_iris))
                        .withColumn("g", F.lit(None).cast("string"))
                        .withColumn("g_kind", F.lit(None).cast("string"))
                    )
                if named_iris:
                    parts.append(current.where(F.col("g").isin(named_iris)))
                dataset = parts[0] if parts else current.limit(0)
                for p in parts[1:]:
                    dataset = dataset.unionByName(p)
                ex = Executor(dataset.dropDuplicates(_KEY), spark)
                gctx = None
            else:
                ex = Executor(current, spark)
                gctx = op["with"] if op["with"] else None
            bindings = ex._compile_pattern(op["where"], gctx)
            # materialized once so the DELETE and INSERT templates read
            # one solution sequence: a WHERE with a subselect LIMIT
            # without ORDER BY, or with RAND()/UUID(), could give each
            # template different solutions if evaluated twice
            bindings = bindings.persist()
            bindings.count()
            if op["delete"]:
                victims = _instantiate(ex, bindings, _with_graph(op["delete"], op["with"]))
                current = _remove(current, victims)
            if op["insert"]:
                adds = _instantiate(ex, bindings, _with_graph(op["insert"], op["with"]))
                current = current.unionByName(adds).dropDuplicates(_KEY)
            bindings.unpersist()
        elif kind in ("clear", "drop"):
            target = op["target"]
            if target == "default":
                current = current.where(F.col("g").isNotNull())
            elif target == "named":
                current = current.where(F.col("g").isNull())
            elif target == "all":
                current = current.limit(0)
            else:
                current = current.where(
                    ~F.col("g").eqNullSafe(F.lit(target[1]))
                )
        elif kind == "create":
            pass  # graphs are implicit in the g column
        elif kind in ("add", "move", "copy"):
            src, dst = op["src"], op["dst"]

            def graph_rows(ref):
                if ref == "default":
                    return current.where(F.col("g").isNull())
                return current.where(F.col("g") == ref[1])

            moved = graph_rows(src)
            if dst == "default":
                moved = moved.withColumn("g", F.lit(None).cast("string")) \
                             .withColumn("g_kind", F.lit(None).cast("string"))
            else:
                moved = moved.withColumn("g", F.lit(dst[1])) \
                             .withColumn("g_kind", F.lit("iri"))
            if kind in ("move", "copy"):
                # destination is overwritten first
                if dst == "default":
                    current = current.where(F.col("g").isNotNull())
                else:
                    current = current.where(~F.col("g").eqNullSafe(F.lit(dst[1])))
            current = current.unionByName(moved).dropDuplicates(_KEY)
            if kind == "move":
                if src == "default":
                    current = current.where(F.col("g").isNotNull())
                else:
                    current = current.where(~F.col("g").eqNullSafe(F.lit(src[1])))
        elif kind == "load":
            iri = op["iri"][1]
            try:
                body = (fetcher or _default_fetcher)(iri)
                quads = _parse_loaded(iri, body)
            except SparqlExecutionError:
                if op["silent"]:
                    continue
                raise
            except Exception as e:
                if op["silent"]:
                    continue
                raise SparqlExecutionError(f"LOAD {iri} failed: {e}")
            into = op["into"]  # None or ('iri', g): override destination graph
            rows = []
            for (s, p, o, g, s_off, p_off, o_off) in quads:
                if into is not None:
                    g = ("iri", into[1])
                rows.append(quad_to_row(iri, s, p, o, g, s_off, p_off, o_off))
            if rows:
                add = spark.createDataFrame(rows, current.schema)
                current = current.unionByName(add).dropDuplicates(_KEY)
        else:
            raise SparqlExecutionError(f"unsupported update {kind}")
    return current


def _with_graph(quads, with_iri: Optional[tuple]):
    """Apply WITH <g> default graph to template quads lacking one."""
    if not with_iri:
        return quads
    return [(s, p, o, g if g is not None else with_iri) for (s, p, o, g) in quads]
