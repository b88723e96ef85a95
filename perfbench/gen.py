"""Seeded input generators and their independent ground truth.

Every workload input is built here from one ``random.Random(seed)``; the
engine sees only the rendered documents. Alongside the documents the
generator keeps the quads it meant to write (``Quad`` records, blank
nodes as ``None`` because their skolemized labels belong to the engine),
and the expected figures each timed operation is checked against are
computed from those records in plain Python or DuckDB, never by the
engine under test.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field
from typing import NamedTuple, Optional

E = "http://bench.example/e/"
P = "http://bench.example/p/"
C = "http://bench.example/c/"
O = "http://bench.example/org/"
G = "http://bench.example/g/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
LOG_IMPLIES = "http://www.w3.org/2000/10/swap/log#implies"

PREFIXES = (
    f"@prefix e: <{E}> .\n@prefix p: <{P}> .\n@prefix c: <{C}> .\n"
    f"@prefix org: <{O}> .\n@prefix xsd: <{XSD}> .\n@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
)
EXT = {"turtle": "ttl", "ntriples": "nt", "nquads": "nq", "trig": "trig", "n3": "n3"}

WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "river stone cloud ember frost meadow harbor summit canyon grove"
).split()

# separator / null marker of the order-insensitive row checksum; no
# generated value contains either character
SEP, NUL = "\x1f", "\x01"


class Quad(NamedTuple):
    s: Optional[str]          # None for a blank node
    s_kind: str
    p: str
    o: Optional[str]          # None for a blank node
    o_kind: str
    o_lang: Optional[str]
    o_dt: Optional[str]
    g: Optional[str]          # None = default graph; "" = blank-node graph


def row_hash(values) -> int:
    """First 60 bits of md5 over the SEP-joined row, NUL for NULL: the
    same figure Spark computes with ``md5``/``conv`` in run.py."""
    text = SEP.join(NUL if v is None else str(v) for v in values)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)


def normalize_alias(text: str) -> str:
    """The linking key: lowercase, runs of ASCII whitespace to one space,
    trimmed (names and aliases are ASCII, so Java and Python agree)."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip()


# ---------------------------------------------------------------- terms
def lit(value: str, lang: Optional[str] = None, dt: Optional[str] = None):
    return ("lit", value, lang, dt)


def iri(value: str):
    return ("iri", value)


def _escape(value: str, rng: random.Random) -> str:
    out = []
    for ch in value:
        if ch == "\\":
            out.append("\\\\")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\t":
            out.append("\\t")
        elif ch == "é" and rng.random() < 0.5:
            out.append("\\u00E9")
        else:
            out.append(ch)
    return "".join(out)


def _curie(value: str) -> Optional[str]:
    for pre, ns in (("e:", E), ("p:", P), ("c:", C), ("org:", O), ("xsd:", XSD)):
        if value.startswith(ns) and value[len(ns):].isalnum():
            return pre + value[len(ns):]
    return None


class Writer:
    """Renders subject blocks in one syntax and records the quads the
    engine must produce for them."""

    def __init__(self, syntax: str, rng: random.Random, quads: list):
        self.syntax, self.rng, self.quads = syntax, rng, quads
        self.turtle_like = syntax in ("turtle", "trig", "n3")
        self.bnodes = 0

    def term(self, t) -> str:
        if t[0] == "iri":
            if self.turtle_like:
                if t[1] == RDF + "type":
                    return "a"
                cur = _curie(t[1])
                if cur and self.rng.random() < 0.8:
                    return cur
            return f"<{t[1]}>"
        if t[0] == "bnode":
            return f"_:{t[1]}"
        _, value, lang, dt = t
        if self.turtle_like and dt == XSD + "integer" and self.rng.random() < 0.7:
            return value
        body = f'"{_escape(value, self.rng)}"'
        if lang:
            return f"{body}@{lang}"
        if dt:
            cur = _curie(dt) if self.turtle_like else None
            return f"{body}^^{cur or '<' + dt + '>'}"
        return body

    def _record(self, s, p, o, g):
        s_val = s[1] if s[0] == "iri" else None
        if o[0] == "lit":
            self.quads.append(Quad(s_val, s[0], p[1], o[1], "literal", o[2], o[3], g))
        else:
            self.quads.append(Quad(s_val, s[0], p[1], o[1] if o[0] == "iri" else None, o[0], None, None, g))

    # N-Triples/N-Quads: nested objects are flattened with explicit labels
    def _flat(self, s, p, o, g, lines):
        if o[0] == "props":
            b = ("bnode", f"b{self.bnodes}")
            self.bnodes += 1
            self._flat_line(s, p, b, g, lines)
            for (p2, o2) in o[1]:
                self._flat(b, p2, o2, g, lines)
        elif o[0] == "list":
            nodes = [("bnode", f"b{self.bnodes + i}") for i in range(len(o[1]))]
            self.bnodes += len(o[1])
            self._flat_line(s, p, nodes[0] if nodes else iri(RDF + "nil"), g, lines)
            for i, item in enumerate(o[1]):
                self._flat(nodes[i], iri(RDF + "first"), item, g, lines)
                nxt = nodes[i + 1] if i + 1 < len(nodes) else iri(RDF + "nil")
                self._flat_line(nodes[i], iri(RDF + "rest"), nxt, g, lines)
        else:
            self._flat_line(s, p, o, g, lines)

    def _flat_line(self, s, p, o, g, lines):
        self._record(s, p, o, g)
        gpart = f" <{g}>" if g and self.syntax == "nquads" else ""
        lines.append(f"{self.term(s)} {self.term(p)} {self.term(o)}{gpart} .")

    # Turtle family: nested objects stay nested
    def _obj(self, s, p, o, g) -> str:
        if o[0] == "props":
            self._record(s, p, ("bnode", None), g)
            b = ("bnode", None)
            inner = " ; ".join(
                f"{self.term(p2)} {self._obj(b, p2, o2, g)}" for (p2, o2) in o[1]
            )
            return f"[ {inner} ]"
        if o[0] == "list":
            if not o[1]:
                self._record(s, p, iri(RDF + "nil"), g)
                return "()"
            self._record(s, p, ("bnode", None), g)
            b = ("bnode", None)
            items = []
            for i, item in enumerate(o[1]):
                items.append(self._obj(b, iri(RDF + "first"), item, g))
                nxt = ("bnode", None) if i + 1 < len(o[1]) else iri(RDF + "nil")
                self._record(b, iri(RDF + "rest"), nxt, g)
            return "( " + " ".join(items) + " )"
        self._record(s, p, o, g)
        return self.term(o)

    def block(self, s, props, g=None) -> str:
        """One subject with [(p, obj), ...]; repeated predicates are
        written as ',' object lists in the Turtle family."""
        if not self.turtle_like:
            lines: list = []
            for (p, o) in props:
                self._flat(s, p, o, g, lines)
            return "\n".join(lines) + "\n"
        groups: dict = {}
        for (p, o) in props:
            groups.setdefault(p, []).append(o)
        parts = []
        for p, objs in groups.items():
            rendered = " , ".join(self._obj(s, p, o, g) for o in objs)
            parts.append(f"{self.term(p)} {rendered}")
        return f"{self.term(s)} " + " ;\n    ".join(parts) + " .\n"


# ---------------------------------------------------------------- documents
@dataclass
class Corpus:
    docs: list = field(default_factory=list)    # (doc_id, spans, syntax, expect)
    quads: list = field(default_factory=list)   # Quad ground truth
    malformed: list = field(default_factory=list)   # doc ids that must quarantine
    media: int = 0
    texts: dict = field(default_factory=dict)   # syntax -> [document text]


def _spans(text: str, doc_id: str, rng: random.Random, corpus: Corpus) -> list:
    """Cut the text at line ends into 1-3 text spans with media spans
    between them; the parser input is the text spans in offset order."""
    lines = text.splitlines(keepends=True)
    cuts = sorted(rng.sample(range(1, len(lines)), min(rng.randint(0, 2), len(lines) - 1)))
    pieces, prev = [], 0
    for c in cuts + [len(lines)]:
        pieces.append("".join(lines[prev:c]))
        prev = c
    spans, off = [], 0
    if rng.random() < 0.3:
        spans.append(("media", None, f"media/{doc_id}/lead.png", off))
        off += 1
        corpus.media += 1
    for i, piece in enumerate(pieces):
        spans.append(("text", piece, None, off))
        off += 1
        if i + 1 < len(pieces):
            spans.append(("media", None, f"media/{doc_id}/{i}.jpg", off))
            off += 1
            corpus.media += 1
    return spans


def add_document(corpus: Corpus, rng: random.Random, syntax: str, blocks, rule=None) -> None:
    """blocks: [(subject, props, graph)]. ``rule`` (N3 only) is a triple
    (s, p, o) written as ``{ s p o } => { o p s }``."""
    n = len(corpus.docs)
    doc_id = f"doc{n:06d}.{EXT[syntax]}"
    w = Writer(syntax, rng, corpus.quads)
    head = PREFIXES if w.turtle_like else ""
    body = []
    if syntax == "trig":
        by_graph: dict = {}
        for (s, props, g) in blocks:
            by_graph.setdefault(g, []).append(w.block(s, props, g))
        for g, chunks in by_graph.items():
            inner = "".join(chunks)
            body.append(inner if g is None else f"<{g}> {{\n{inner}}}\n")
    else:
        for (s, props, g) in blocks:
            body.append(w.block(s, props, g if syntax == "nquads" else None))
    if rule is not None:
        s, p, o = rule
        body.append(f"{{ {w.term(s)} {w.term(p)} {w.term(o)} }} => {{ {w.term(o)} {w.term(p)} {w.term(s)} }} .\n")
        corpus.quads.append(Quad(s[1], "iri", p[1], o[1], "iri", None, None, ""))
        corpus.quads.append(Quad(o[1], "iri", p[1], s[1], "iri", None, None, ""))
        corpus.quads.append(Quad(None, "bnode", LOG_IMPLIES, None, "bnode", None, None, None))
    text = head + "".join(body)
    corpus.texts.setdefault(syntax, []).append(text)
    corpus.docs.append((doc_id, _spans(text, doc_id, rng, corpus), syntax, "eval"))


def add_malformed(corpus: Corpus, rng: random.Random) -> None:
    """A document that parses to no quads and quarantines whole."""
    n = len(corpus.docs)
    if rng.random() < 0.5:
        doc_id, syntax = f"doc{n:06d}.ttl", "turtle"
        text = PREFIXES + f"e:x{n} p:name e:y{n} e:z{n} .\n"
    else:
        doc_id, syntax = f"doc{n:06d}.nt", "ntriples"
        text = f"<{E}x{n}> <{P}name> .\n"
    corpus.docs.append((doc_id, _spans(text, doc_id, rng, corpus), syntax, "negative"))
    corpus.malformed.append(doc_id)


def _word_literal(rng: random.Random) -> tuple:
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))
    r = rng.random()
    if r < 0.1:
        words += '\t"quoted"'
    elif r < 0.2:
        words += " café\\path"
    elif r < 0.25:
        words += "\nsecond line"
    return lit(words, rng.choice(("en", "de", "fr")) if rng.random() < 0.4 else None)


def _syntax(rng: random.Random, weights) -> str:
    return rng.choices(list(weights), weights=list(weights.values()))[0]


# ---------------------------------------------------------------- ingest
INGEST_SYNTAX = {"turtle": 45, "ntriples": 20, "nquads": 10, "trig": 15, "n3": 10}


def ingest_corpus(seed: int, n_docs: int) -> Corpus:
    """Mixed-syntax corpus exercising every Turtle-family construct the
    extract stage parses; about 1% of documents are malformed."""
    rng = random.Random(seed)
    corpus = Corpus()
    n_entities = n_docs * 4
    for _ in range(n_docs):
        if rng.random() < 0.01:
            add_malformed(corpus, rng)
            continue
        syntax = _syntax(rng, INGEST_SYNTAX)
        blocks = []
        for _ in range(rng.randint(3, 5)):
            s = iri(f"{E}{rng.randrange(n_entities)}")
            props = [(iri(RDF + "type"), iri(f"{C}{rng.randrange(20)}"))]
            props += [(iri(P + "name"), _word_literal(rng)) for _ in range(rng.randint(1, 2))]
            props.append((iri(P + "age"), lit(str(rng.randint(18, 90)), dt=XSD + "integer")))
            props.append((iri(P + "score"), lit(f"{rng.randint(0, 99)}.{rng.randint(0, 9)}", dt=XSD + "decimal")))
            props += [(iri(P + "knows"), iri(f"{E}{rng.randrange(n_entities)}")) for _ in range(rng.randint(1, 3))]
            if syntax != "n3" or rng.random() < 0.5:
                props.append((iri(P + "address"), ("props", [
                    (iri(P + "city"), _word_literal(rng)),
                    (iri(P + "zip"), lit(str(rng.randint(10000, 99999)))),
                ])))
            if syntax != "n3":
                props.append((iri(P + "tags"), ("list", [
                    _word_literal(rng) if rng.random() < 0.5 else iri(f"{E}{rng.randrange(n_entities)}")
                    for _ in range(rng.randint(1, 3))
                ])))
            g = f"{G}{rng.randrange(10)}" if syntax in ("nquads", "trig") and rng.random() < 0.6 else None
            blocks.append((s, props, g))
        rule = None
        if syntax == "n3":
            rule = (iri(f"{E}{rng.randrange(n_entities)}"), iri(P + "knows"), iri(f"{E}{rng.randrange(n_entities)}"))
        add_document(corpus, rng, syntax, blocks, rule)
    return corpus


def ingest_expected(corpus: Corpus) -> dict:
    """Figures the timed noop write observes: the triple count, sums over
    predicate and literal lengths, named-graph quads, and the set of
    quarantined documents (the engine may write more than one error
    record for one document)."""
    lits = [q for q in corpus.quads if q.o_kind == "literal"]
    return {
        "triples": len(corpus.quads),
        "error_docs": sorted(corpus.malformed),
        "literals": len(lits),
        "p_len": sum(len(q.p) for q in corpus.quads),
        "lit_len": sum(len(q.o) for q in lits),
        "in_graph": sum(1 for q in corpus.quads if q.g is not None),
    }


# ---------------------------------------------------------------- kg_build
KG_SYNTAX = {"turtle": 45, "ntriples": 20, "nquads": 15, "trig": 20}


def _name(rng: random.Random, k: int) -> str:
    words = [rng.choice(WORDS), rng.choice(WORDS), str(k)]
    words = [w.upper() if rng.random() < 0.3 else w for w in words]
    return rng.choice((" ", "  ", "\t")).join(words) + (" " if rng.random() < 0.2 else "")


def kg_inputs(seed: int, n_docs: int, n_chains: int, chain_len: int, n_clusters: int):
    """Blank-node-free corpus for the pipeline plus the alias dictionary.

    owl:sameAs edges form ``n_chains`` paths of ``chain_len`` entities in
    scrambled id order (the shape that costs connected components the
    most rounds) and ``n_clusters`` random trees of 3-12 entities; the
    edges are spread over the documents with the entities' other facts.
    Returns (corpus, dictionary rows)."""
    rng = random.Random(seed)
    corpus = Corpus()
    n_entities = max(n_docs * 6, n_chains * chain_len + n_clusters * 12 + 100)
    pool = list(range(n_entities))
    rng.shuffle(pool)
    sameas = []
    for _ in range(n_chains):
        chain = [pool.pop() for _ in range(chain_len)]
        sameas += list(zip(chain, chain[1:]))
    for _ in range(n_clusters):
        members = [pool.pop() for _ in range(rng.randint(3, 12))]
        sameas += [(m, rng.choice(members[:i])) for i, m in enumerate(members) if i]
    rng.shuffle(sameas)
    names = {k: _name(rng, k) for k in range(n_entities)}
    per_doc = -(-len(sameas) // n_docs)
    dictionary = []
    for k in rng.sample(range(n_entities), n_entities // 3):
        alias = names[k] if rng.random() < 0.7 else names[k].upper()
        dictionary.append((alias, f"{E}canon{k}"))
    for d in range(n_docs):
        if rng.random() < 0.01:
            add_malformed(corpus, rng)
            continue
        syntax = _syntax(rng, KG_SYNTAX)
        blocks = []
        for _ in range(rng.randint(2, 4)):
            k = rng.randrange(n_entities)
            props = [
                (iri(RDF + "type"), iri(f"{C}{rng.randrange(20)}")),
                (iri(P + "name"), lit(names[k], "en" if rng.random() < 0.3 else None)),
                (iri(P + "age"), lit(str(rng.randint(18, 90)), dt=XSD + "integer")),
            ]
            props += [(iri(P + "knows"), iri(f"{E}{rng.randrange(n_entities)}")) for _ in range(rng.randint(1, 3))]
            props.append((iri(P + "note"), _word_literal(rng)))
            g = f"{G}{rng.randrange(10)}" if syntax in ("nquads", "trig") and rng.random() < 0.5 else None
            blocks.append((iri(f"{E}{k}"), props, g))
        for (a, b) in sameas[d * per_doc:(d + 1) * per_doc]:
            blocks.append((iri(f"{E}{a}"), [(iri(OWL_SAMEAS), iri(f"{E}{b}"))], None))
        add_document(corpus, rng, syntax, blocks)
    return corpus, dictionary


def kg_expected(corpus: Corpus, dictionary) -> dict:
    """Pipeline stage counts and the canonical graph's row checksum,
    from the generator's quads with an independent union-find."""
    quads = corpus.quads
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for q in quads:
        if q.p == OWL_SAMEAS and q.o_kind == "iri":
            ra, rb = find(q.s), find(q.o)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)   # root = smallest term

    def canon(t):
        return find(t) if t in parent else t

    canonical = {
        (canon(q.s), q.p, canon(q.o) if q.o_kind == "iri" else q.o, q.o_lang, q.o_dt, q.g)
        for q in quads if q.p != OWL_SAMEAS
    }
    aliases = {normalize_alias(a) for (a, _e) in dictionary}
    return {
        "triples": len(quads),
        "error_docs": sorted(corpus.malformed),
        "linked": sum(1 for q in quads if q.o_kind == "literal" and normalize_alias(q.o) in aliases),
        "canonical": len(canonical),
        "canonical_sum": sum(row_hash(r) for r in canonical),
        "media": corpus.media,
    }


# ---------------------------------------------------------------- sparql_mix
SPARQL_SYNTAX = {"turtle": 40, "ntriples": 20, "nquads": 20, "trig": 20}
N_CLASSES, N_ORGS, N_GRAPHS = 20, 40, 8


def sparql_graph(seed: int, n_people: int) -> Corpus:
    """A people/organisations graph with unique quads and no blank nodes.

    Every person has a class, a name, an age, an employer and 0-4 knows
    edges (a fifth of them in named graphs); half have an email.
    Organisations form partOf chains of 4-8 for the ``+`` path."""
    rng = random.Random(seed)
    corpus = Corpus()
    orgs = list(range(N_ORGS))
    rng.shuffle(orgs)
    org_blocks, i = [], 0
    while i < len(orgs):
        chain = orgs[i:i + rng.randint(4, 8)]
        i += len(chain)
        org_blocks += [(iri(f"{O}{a}"), [(iri(P + "partOf"), iri(f"{O}{b}"))], None) for a, b in zip(chain, chain[1:])]
    people = []
    for k in range(n_people):
        props = [
            (iri(RDF + "type"), iri(f"{C}{rng.randrange(N_CLASSES)}")),
            (iri(P + "name"), lit(f"{rng.choice(WORDS)} {k}", "en" if k % 3 == 0 else None)),
            (iri(P + "age"), lit(str(rng.randint(18, 90)), dt=XSD + "integer")),
            (iri(P + "worksFor"), iri(f"{O}{rng.randrange(N_ORGS)}")),
        ]
        if rng.random() < 0.5:
            props.append((iri(P + "email"), lit(f"p{k}@bench.example")))
        knows = rng.sample(range(n_people), rng.randint(0, 4))
        named = [(iri(P + "knows"), iri(f"{E}{j}")) for j in knows if j != k]
        default = [x for x in named if rng.random() < 0.8]
        named = [x for x in named if x not in default]
        people.append((iri(f"{E}{k}"), props + default, None))
        if named:
            people.append((iri(f"{E}{k}"), named, f"{G}{rng.randrange(N_GRAPHS)}"))
    blocks = org_blocks + people
    rng.shuffle(blocks)
    for start in range(0, len(blocks), 12):
        chunk = blocks[start:start + 12]
        syntax = _syntax(rng, SPARQL_SYNTAX)
        if any(g is not None for (_s, _p, g) in chunk) and syntax in ("turtle", "ntriples"):
            syntax = "trig" if syntax == "turtle" else "nquads"
        add_document(corpus, rng, syntax, chunk)
    return corpus
