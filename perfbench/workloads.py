"""The three workloads: inputs from gen.py, timed operations, checks.

A workload object is built per process from (spark, seed). ``prepare``
turns the generated input into persisted DataFrames, ``warm_up`` runs
``warm_rounds`` untimed rounds, and ``round(i)``
returns the timed operations of round ``i`` as (name, op) pairs, where
``op(tracer)`` returns (output verified, seconds of timed work).
Verification work that needs its own Spark job runs outside the timed
part of the operation.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
from mentor_rdf_parsers_spark.parsing.lexer import djb2_base36, file_scoped_bnode_generator
from mentor_rdf_parsers_spark.parsing.n3 import parse_n3
from mentor_rdf_parsers_spark.parsing.ntriples import parse_ntriples
from mentor_rdf_parsers_spark.parsing.terms import quad_to_row
from mentor_rdf_parsers_spark.parsing.turtle import parse_turtle
from mentor_rdf_parsers_spark.pipeline import run_pipeline
from mentor_rdf_parsers_spark.schemas import DOCUMENTS
from mentor_rdf_parsers_spark.sparql import execute, execute_update

OUT = Path(__file__).resolve().parent / "out"

# In-process parse time spent per syntax in the traced run's parsing sample
PARSE_BUDGET_S = 0.25

PARSERS = {
    "turtle": lambda text, gen_: parse_turtle(text, bnode_generator=gen_),
    "trig": lambda text, gen_: parse_turtle(text, bnode_generator=gen_, trig=True),
    "ntriples": lambda text, gen_: parse_ntriples(text, nquads=False, bnode_generator=gen_),
    "nquads": lambda text, gen_: parse_ntriples(text, nquads=True, bnode_generator=gen_),
    "n3": lambda text, gen_: parse_n3(text, bnode_generator=gen_),
}


def checksum(cols) -> "F.Column":
    """Spark side of gen.row_hash, summed: order-insensitive."""
    row = F.concat_ws(gen.SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(gen.NUL)) for c in cols])
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    return F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))


class Workload:
    # untimed rounds before the window: the first round of a process pays
    # Python worker start-up, JIT and code generation
    warm_rounds = 1

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def _docs_df(self, corpus, partitions: int):
        df = self.spark.createDataFrame(corpus.docs, DOCUMENTS)
        return df.repartition(partitions).persist()

    def warm_up(self) -> None:
        """Untimed rounds before the window. A failed check here means the
        benchmark itself is broken, so it raises."""
        for r in range(self.warm_rounds):
            for name, op in self.round(-1 - r):
                ok, _ = op(None)
                if not ok:
                    raise RuntimeError(f"warm-up operation {name} failed its check")

    def parsing_sample(self) -> dict:
        """In-process parse cost per triple and syntax over this workload's
        own documents, and the row-flattening cost of quad_to_row."""
        out, rows = {}, []
        for syntax, parse in PARSERS.items():
            texts = self.corpus.texts.get(syntax, [])
            n_triples, spent, i = 0, 0.0, 0
            while texts and spent < PARSE_BUDGET_S:
                text = texts[i % len(texts)]
                doc = f"sample{i}"
                bgen = file_scoped_bnode_generator(doc, prefix=djb2_base36(doc))
                t0 = time.perf_counter()
                quads, _errors = parse(text, bgen)
                spent += time.perf_counter() - t0
                n_triples += len(quads)
                if len(rows) < 20000:
                    rows.extend(quads)
                i += 1
            out[syntax] = 1e6 * spent / n_triples if n_triples else 0.0
        t0 = time.perf_counter()
        for (s, p, o, g, so, po, oo) in rows:
            quad_to_row("sample", s, p, o, g, so, po, oo)
        out["quad_to_row"] = 1e6 * (time.perf_counter() - t0) / max(len(rows), 1)
        return out


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ------------------------------------------------------------------ ingest
class Ingest(Workload):
    """One operation = extract the whole corpus and consume both outputs."""

    N_DOCS = 700

    def prepare(self) -> None:
        self.corpus = gen.ingest_corpus(self.seed, self.N_DOCS)
        self.expected = gen.ingest_expected(self.corpus)
        if getattr(self, "docs", None) is not None:
            self.docs.unpersist()
        self.docs = self._docs_df(self.corpus, 4 * self.spark.sparkContext.defaultParallelism)
        self.docs.count()

    def sizes(self) -> dict:
        return {"docs": len(self.corpus.docs), **self.expected}

    def round(self, i: int):
        return [("extract", self._extract)]

    def _extract(self, tracer):
        obs_t, obs_e = Observation(), Observation()
        t0 = time.perf_counter()
        extracted = extract_triples(self.docs).persist()
        triples, errors = split_extract(extracted)
        triples = triples.observe(
            obs_t,
            F.count(F.lit(1)).alias("triples"),
            F.count(F.when(F.col("o_kind") == "literal", 1)).alias("literals"),
            F.coalesce(F.sum(F.length("p")), F.lit(0)).alias("p_len"),
            F.coalesce(F.sum(F.when(F.col("o_kind") == "literal", F.length("o"))), F.lit(0)).alias("lit_len"),
            F.count(F.col("g")).alias("in_graph"),
        )
        errors = errors.observe(obs_e, F.sort_array(F.collect_set("doc_id")).alias("error_docs"))
        with _span(tracer, "extract.consume"):
            triples.write.format("noop").mode("overwrite").save()
            errors.write.format("noop").mode("overwrite").save()
        extracted.unpersist()
        elapsed = time.perf_counter() - t0
        got = {**obs_t.get, **obs_e.get}
        got["error_docs"] = list(got["error_docs"])
        ok = self.expected["triples"] > 0 and all(got[k] == v for k, v in self.expected.items())
        return ok, elapsed


# ------------------------------------------------------------------ kg_build
class KgBuild(Workload):
    """One operation = run_pipeline into a fresh output directory."""

    N_DOCS, N_CHAINS, CHAIN_LEN, N_CLUSTERS = 160, 24, 12, 20
    # bucket count sized to a ~5k-triple graph; the default 64 would time
    # directory listing more than writing
    N_BUCKETS = 4

    def prepare(self) -> None:
        corpus, dictionary = gen.kg_inputs(
            self.seed, self.N_DOCS, self.N_CHAINS, self.CHAIN_LEN, self.N_CLUSTERS)
        self.corpus, self.expected = corpus, gen.kg_expected(corpus, dictionary)
        if getattr(self, "docs", None) is not None:
            self.docs.unpersist()
            self.dictionary.unpersist()
        self.docs = self._docs_df(corpus, self.spark.sparkContext.defaultParallelism)
        self.docs.count()
        self.dictionary = self.spark.createDataFrame(dictionary, "alias string, entity string").persist()
        self.dictionary.count()
        self.builds = 0

    def sizes(self) -> dict:
        return {"docs": len(self.corpus.docs), **self.expected}

    def round(self, i: int):
        return [("build", self._build)]

    def _build(self, tracer):
        self.builds += 1
        out = OUT / "kg" / f"build{self.builds}"
        shutil.rmtree(out.parent, ignore_errors=True)
        t0 = time.perf_counter()
        stats = run_pipeline(self.spark, self.docs, str(out), dictionary=self.dictionary, n_buckets=self.N_BUCKETS)
        elapsed = time.perf_counter() - t0
        with _span(tracer, "bench.verify"):
            canon = self.spark.read.parquet(str(out / "canonical"))
            got_sum = canon.agg(checksum(["s", "p", "o", "o_lang", "o_dt", "g"]).alias("h")).first()["h"]
            errors = self.spark.read.parquet(str(out / "errors")).select("doc_id").distinct().collect()
        exp = self.expected
        ok = (
            exp["canonical"] > 0
            and all(stats[k] == exp[k] for k in ("triples", "linked", "canonical", "media"))
            and int(got_sum) == exp["canonical_sum"]
            and sorted(r.doc_id for r in errors) == exp["error_docs"]
        )
        return ok, elapsed


# ------------------------------------------------------------------ sparql_mix
PRE = (
    f"PREFIX p: <{gen.P}> PREFIX c: <{gen.C}> PREFIX org: <{gen.O}> "
    f"PREFIX e: <{gen.E}> PREFIX xsd: <{gen.XSD}> "
)
TYPE, KNOWS, NAME, WORKS, EMAIL, PART, AGE = (
    gen.RDF + "type", gen.P + "knows", gen.P + "name", gen.P + "worksFor",
    gen.P + "email", gen.P + "partOf", gen.P + "age",
)


def _ask_hits(quads) -> list:
    """(person, org) ids where the person knows someone who works for the
    org, both in the default graph: ASK constants whose answer is true."""
    works = {q.s: q.o for q in quads if q.p == WORKS and q.g is None}
    return sorted({
        (q.s[len(gen.E):], works[q.o][len(gen.O):])
        for q in quads if q.p == KNOWS and q.g is None and q.o in works
    })


def _templates(corpus, n_people: int):
    """name -> (constants(rng), SPARQL, DuckDB SQL over table q, result
    columns). ``q`` holds the generator's quads; ``g IS NULL`` is the
    default graph. Each SQL is the template's spec answer, written
    independently of the engine's executor."""
    cls = lambda r: r.randrange(gen.N_CLASSES)  # noqa: E731
    org = lambda r: r.randrange(gen.N_ORGS)  # noqa: E731
    hits = _ask_hits(corpus.quads)
    # half the ASKs from known hits: a random pair is true only ~4% of the time
    ask = lambda r: (  # noqa: E731
        dict(zip("xo", r.choice(hits))) if r.random() < 0.5
        else {"x": r.randrange(n_people), "o": org(r)}
    )
    d = "g IS NULL"
    return {
        "bgp": (
            lambda r: {"o": org(r)},
            "SELECT ?x ?y ?n WHERE {{ ?x p:worksFor org:{o} . ?x p:knows ?y . ?y p:name ?n }}",
            f"""SELECT a.s, b.o, c.o FROM q a JOIN q b ON b.s = a.s AND b.p = '{KNOWS}' AND b.{d}
                JOIN q c ON c.s = b.o AND c.p = '{NAME}' AND c.{d}
                WHERE a.p = '{WORKS}' AND a.o = '{gen.O}{{o}}' AND a.{d}""",
            ["x", "y", "n"],
        ),
        "optional": (
            lambda r: {"c": cls(r), "o": org(r)},
            "SELECT ?x ?y WHERE {{ ?x a c:{c} OPTIONAL {{ ?x p:knows ?y }} ?y p:worksFor org:{o} }}",
            f"""WITH xs AS (SELECT s AS x FROM q WHERE p = '{TYPE}' AND o = '{gen.C}{{c}}' AND {d}),
                opt AS (SELECT xs.x, k.o AS y FROM xs LEFT JOIN q k
                        ON k.s = xs.x AND k.p = '{KNOWS}' AND k.{d}),
                w AS (SELECT s AS y FROM q WHERE p = '{WORKS}' AND o = '{gen.O}{{o}}' AND {d})
                SELECT opt.x, w.y FROM opt JOIN w ON opt.y = w.y OR opt.y IS NULL""",
            ["x", "y"],
        ),
        "exists": (
            lambda r: {"c": cls(r), "o": org(r)},
            "SELECT ?x WHERE {{ ?x a c:{c} FILTER EXISTS {{ ?x p:email ?e }} "
            "FILTER NOT EXISTS {{ ?x p:worksFor org:{o} }} }}",
            f"""SELECT a.s FROM q a WHERE a.p = '{TYPE}' AND a.o = '{gen.C}{{c}}' AND a.{d}
                AND EXISTS (SELECT 1 FROM q e WHERE e.s = a.s AND e.p = '{EMAIL}' AND e.{d})
                AND NOT EXISTS (SELECT 1 FROM q w WHERE w.s = a.s AND w.p = '{WORKS}'
                                AND w.o = '{gen.O}{{o}}' AND w.{d})""",
            ["x"],
        ),
        "minus": (
            lambda r: {"c": cls(r), "c2": cls(r)},
            "SELECT ?x ?n WHERE {{ ?x a c:{c} . ?x p:name ?n MINUS {{ ?x p:knows ?z . ?z a c:{c2} }} }}",
            f"""SELECT a.s, n.o FROM q a JOIN q n ON n.s = a.s AND n.p = '{NAME}' AND n.{d}
                WHERE a.p = '{TYPE}' AND a.o = '{gen.C}{{c}}' AND a.{d}
                AND NOT EXISTS (SELECT 1 FROM q k JOIN q t ON t.s = k.o AND t.p = '{TYPE}'
                                AND t.o = '{gen.C}{{c2}}' AND t.{d}
                                WHERE k.s = a.s AND k.p = '{KNOWS}' AND k.{d})""",
            ["x", "n"],
        ),
        "graph": (
            lambda r: {"o": org(r)},
            "SELECT ?g ?x ?y WHERE {{ GRAPH ?g {{ ?x p:knows ?y }} ?y p:worksFor org:{o} }}",
            f"""SELECT k.g, k.s, k.o FROM q k JOIN q w ON w.s = k.o AND w.p = '{WORKS}'
                AND w.o = '{gen.O}{{o}}' AND w.{d}
                WHERE k.p = '{KNOWS}' AND k.g IS NOT NULL""",
            ["g", "x", "y"],
        ),
        "seq_path": (
            lambda r: {"o": org(r)},
            "SELECT ?y ?n WHERE {{ org:{o} ^p:worksFor/p:knows ?y . ?y p:name ?n }}",
            f"""SELECT k.o, n.o FROM q w JOIN q k ON k.s = w.s AND k.p = '{KNOWS}' AND k.{d}
                JOIN q n ON n.s = k.o AND n.p = '{NAME}' AND n.{d}
                WHERE w.p = '{WORKS}' AND w.o = '{gen.O}{{o}}' AND w.{d}""",
            ["y", "n"],
        ),
        "path_plus": (
            lambda r: {"o": org(r)},
            "SELECT ?t WHERE {{ org:{o} p:partOf+ ?t }}",
            f"""WITH RECURSIVE reach(n) AS (
                  SELECT o FROM q WHERE s = '{gen.O}{{o}}' AND p = '{PART}' AND {d}
                  UNION
                  SELECT q.o FROM q JOIN reach ON q.s = reach.n WHERE q.p = '{PART}' AND q.{d})
                SELECT n FROM reach""",
            ["t"],
        ),
        "group_count": (
            lambda r: {"o": org(r)},
            "SELECT ?c (COUNT(?x) AS ?n) WHERE {{ ?x a ?c . ?x p:worksFor org:{o} }} GROUP BY ?c",
            f"""SELECT t.o, CAST(count(*) AS VARCHAR) FROM q t JOIN q w ON w.s = t.s
                AND w.p = '{WORKS}' AND w.o = '{gen.O}{{o}}' AND w.{d}
                WHERE t.p = '{TYPE}' AND t.{d} GROUP BY t.o""",
            ["c", "n"],
        ),
        "ask": (
            ask,
            "ASK {{ e:{x} p:knows ?y . ?y p:worksFor org:{o} }}",
            f"""SELECT EXISTS (SELECT 1 FROM q k JOIN q w ON w.s = k.o AND w.p = '{WORKS}'
                AND w.o = '{gen.O}{{o}}' AND w.{d}
                WHERE k.s = '{gen.E}{{x}}' AND k.p = '{KNOWS}' AND k.{d})""",
            ["ask"],
        ),
        "construct": (
            lambda r: {"c": cls(r)},
            "CONSTRUCT {{ ?y p:knownBy ?x }} WHERE {{ ?x p:knows ?y . ?x a c:{c} }}",
            f"""SELECT DISTINCT k.o, '{gen.P}knownBy', k.s FROM q k JOIN q t ON t.s = k.s
                AND t.p = '{TYPE}' AND t.o = '{gen.C}{{c}}' AND t.{d}
                WHERE k.p = '{KNOWS}' AND k.{d}""",
            ["s", "p", "o"],
        ),
        "update": (
            lambda r: {"o": org(r), "v": r.randint(100, 999)},
            "DELETE {{ ?x p:age ?a }} INSERT {{ ?x p:age \"{v}\"^^xsd:integer }} "
            "WHERE {{ ?x p:worksFor org:{o} . ?x p:age ?a }}",
            f"""WITH hit AS (SELECT DISTINCT w.s FROM q w JOIN q a ON a.s = w.s AND a.p = '{AGE}' AND a.{d}
                             WHERE w.p = '{WORKS}' AND w.o = '{gen.O}{{o}}' AND w.{d})
                SELECT s, p, o, o_lang, o_dt, g FROM q
                WHERE NOT (p = '{AGE}' AND {d} AND s IN (SELECT s FROM hit))
                UNION
                SELECT s, '{AGE}', '{{v}}', NULL, '{gen.XSD}integer', NULL FROM hit""",
            ["s", "p", "o", "o_lang", "o_dt", "g"],
        ),
    }


class SparqlMix(Workload):
    """One operation = one query (or update) and its checked result. A
    round runs every template once, in a seeded order, with seeded
    constants; updates apply to the base graph, so the graph does not
    change from round to round."""

    # Two warm-up rounds, one timed: after one warm-up round the next round
    # still ran 10-17% slower than the one after it, and over 30 runs the
    # p50 of that third round alone spread less (IQR / median 0.17-0.19)
    # than the p50 of the second and third together (0.16-0.34)
    warm_rounds = 2
    N_PEOPLE = 700

    def prepare(self) -> None:
        self.corpus = gen.sparql_graph(self.seed, self.N_PEOPLE)
        if getattr(self, "graph", None) is not None:
            self.graph.unpersist()
        docs = self.spark.createDataFrame(self.corpus.docs, DOCUMENTS)
        triples, _errors = split_extract(extract_triples(docs))
        self.graph = triples.repartition(self.spark.sparkContext.defaultParallelism).persist()
        n = self.graph.count()
        if n != len(self.corpus.quads):
            raise RuntimeError(f"graph has {n} triples, generator wrote {len(self.corpus.quads)}")
        truth = pd.DataFrame(
            [(x.s, x.p, x.o, x.o_lang, x.o_dt, x.g) for x in self.corpus.quads],
            columns=["s", "p", "o", "o_lang", "o_dt", "g"],
        )
        self.db = duckdb.connect()
        self.db.register("truth", truth)
        self.db.execute("CREATE OR REPLACE TABLE q AS SELECT * FROM truth")
        self.templates = _templates(self.corpus, self.N_PEOPLE)
        self.truth: dict = {}
        self.asks = {"checked": 0, "expected_true": 0}

    def sizes(self) -> dict:
        """Input sizes, and the ASK checks of warm-up and window by
        expected answer."""
        return {"docs": len(self.corpus.docs), "triples": len(self.corpus.quads), "asks": self.asks}

    def round(self, i: int):
        rng = random.Random(self.seed * 100003 + i)
        names = sorted(self.templates)
        rng.shuffle(names)
        ops = []
        for name in names:
            consts, sparql, sql, cols = self.templates[name]
            c = consts(rng)
            ops.append((name, self._op(name, PRE + sparql.format(**c), sql.format(**c), cols)))
        return ops

    def _expect(self, sql: str, cols):
        if sql not in self.truth:
            rows = self.db.execute(sql).fetchall()
            if cols == ["ask"]:
                self.truth[sql] = (1, rows[0][0])
            else:
                self.truth[sql] = (len(rows), sum(gen.row_hash(r) for r in rows))
        return self.truth[sql]

    def _op(self, name, text, sql, cols):
        def run(tracer):
            expected = self._expect(sql, cols)
            if cols == ["ask"]:
                self.asks["checked"] += 1
                self.asks["expected_true"] += bool(expected[1])
            t0 = time.perf_counter()
            if name == "update":
                df = execute_update(text, self.graph)
            else:
                df = execute(text, self.graph)
            layer = "sparql.updates" if name == "update" else "sparql.executor"
            with _span(tracer, layer + ".action"):
                if cols == ["ask"]:
                    rows = df.collect()
                    got = (len(rows), rows[0][0])
                else:
                    r = df.agg(F.count(F.lit(1)).alias("n"), checksum(cols).alias("h")).first()
                    got = (r["n"], int(r["h"]))
            return got == expected, time.perf_counter() - t0
        return run


WORKLOADS = {"ingest": Ingest, "kg_build": KgBuild, "sparql_mix": SparqlMix}
