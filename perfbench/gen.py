"""Seeded input generator for the benchmark.

Pure standard library: it shares no code with ``dlx_spark`` (in
particular none of its MRK writers), so a change to the program cannot
change the inputs it is measured on.  Every generator takes a
``random.Random`` built from the workload seed; the same seed gives the
same files, scripts and truth.

Catalog side: MRK authority and bibliographic files with varied record
sizes, Zipf-skewed 650/710 links (a few headings are used by many
records, most by few), recency-biased edit scripts and search scripts
with Zipf term popularity.  The generator keeps the truth the checks
need: which bibs link which auth, each record's current title and how
many versions it has.

Corpus side: documents built from a Zipf vocabulary, and dedup batches
with planted shares of exact clones, near clones, intra-batch
duplicates and fresh documents.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field

_ONSETS = "b c d f g h k l m n p r s t v z br tr pl st".split()
_VOWELS = "a e i o u ai ea io".split()


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pronounceable pseudo-words (two or three syllables),
    in random order, so Zipf rank is unrelated to spelling."""
    words: set[str] = set()
    while len(words) < n:
        k = rng.choice((2, 2, 3))
        words.add("".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                          for _ in range(k)))
    out = sorted(words)
    rng.shuffle(out)
    return out


class Zipf:
    """Draws from ``items`` with P(rank r) proportional to 1 / r**s."""

    def __init__(self, items: list, s: float = 1.1):
        self.items = items
        self.cum = list(itertools.accumulate(1.0 / (r ** s)
                                             for r in range(1, len(items) + 1)))

    def draw(self, rng: random.Random, k: int = 1) -> list:
        return rng.choices(self.items, cum_weights=self.cum, k=k)

    def one(self, rng: random.Random):
        return self.draw(rng, 1)[0]


def _id_word(n: int) -> str:
    """A unique, search-safe token for an authority id: letters only and
    no ``s``, so scrubbing and stemming leave it intact."""
    alphabet = "bcdfghjklmnpqrtvwxz"
    out = ""
    while True:
        n, r = divmod(n, len(alphabet))
        out = alphabet[r] + out
        if not n:
            return "x" + out


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

@dataclass
class Bib:
    title: str
    subtitle: str
    notes: list[str]
    subjects: list[int]          # 650 links (auth ids with a 150 heading)
    bodies: list[int]            # 710 links (auth ids with a 110 heading)
    symbol: str
    date: str
    versions: int = 0            # committed versions the store should hold


@dataclass
class Auth:
    tag: str                     # "150" topical, "110" corporate body
    heading: str
    see_from: list[str] = field(default_factory=list)
    note: str | None = None


def _mrk(tag: str, value: str) -> str:
    if tag < "010":
        return f"={tag}  {value}"
    return f"={tag}  \\\\{value}"


def auth_mrk(aid: int, a: Auth) -> str:
    lines = [_mrk("000", "00000nz  a2200000n  4500"), _mrk("001", str(aid)),
             _mrk(a.tag, f"$a{a.heading}")]
    for s in a.see_from:
        lines.append(_mrk("4" + a.tag[1:], f"$a{s}"))
    if a.note:
        lines.append(_mrk("680", f"$a{a.note}"))
    return "\n".join(lines) + "\n"


def bib_mrk(bid: int | None, b: Bib, auths: dict[int, Auth]) -> str:
    """One bib as MRK.  ``bid=None`` leaves out the 001 so the store
    assigns the id.  Linked fields carry the heading text and ``$0``."""
    lines = [_mrk("000", "00000nam a2200000 a 4500")]
    if bid is not None:
        lines.append(_mrk("001", str(bid)))
    lines.append(_mrk("191", f"$a{b.symbol}"))
    lines.append(_mrk("245", f"$a{b.title}$b{b.subtitle}"))
    lines.append(_mrk("269", f"$a{b.date}"))
    for n in b.notes:
        lines.append(_mrk("520", f"$a{n}"))
    for aid in b.subjects:
        lines.append(_mrk("650", f"$a{auths[aid].heading}$0{aid}"))
    for aid in b.bodies:
        lines.append(_mrk("710", f"$a{auths[aid].heading}$0{aid}"))
    return "\n".join(lines) + "\n"


class Catalog:
    """The generated catalog and the truth about it; ``commit`` keeps the
    truth in step with the writes the workload makes."""

    def __init__(self, rng: random.Random, n_auths: int, n_words: int = 3000):
        self.rng = rng
        self.words = vocabulary(rng, n_words)
        self.zipf = Zipf(self.words, 1.05)
        self.auths: dict[int, Auth] = {}
        for aid in range(1, n_auths + 1):
            tag = "110" if aid % 5 == 0 else "150"
            heading = " ".join(self.zipf.draw(rng, rng.randint(1, 3))
                               + [_id_word(aid)])
            see = [" ".join(self.zipf.draw(rng, 2)) + " " + _id_word(aid)
                   for _ in range(rng.choice((0, 0, 1, 2)))]
            note = (" ".join(self.zipf.draw(rng, rng.randint(5, 30)))
                    if rng.random() < 0.3 else None)
            self.auths[aid] = Auth(tag, heading, see, note)
        topical = [a for a, x in self.auths.items() if x.tag == "150"]
        bodies = [a for a, x in self.auths.items() if x.tag == "110"]
        rng.shuffle(topical)
        rng.shuffle(bodies)
        # Zipf fan-out: the auth at rank 1 is linked from far more bibs
        # than the auth at rank 100
        self.subject_zipf = Zipf(topical, 1.0)
        self.body_zipf = Zipf(bodies, 1.0)
        self.bibs: dict[int, Bib] = {}
        self.max_id = 0
        self._serial = itertools.count(1)

    def text(self, lo: int, hi: int) -> str:
        return " ".join(self.zipf.draw(self.rng, self.rng.randint(lo, hi)))

    def new_bib(self) -> Bib:
        rng = self.rng
        n_notes = rng.choice((0, 1, 1, 2, 3))
        subjects = sorted(set(self.subject_zipf.draw(rng, rng.randint(1, 4))))
        bodies = self.body_zipf.draw(rng, 1) if rng.random() < 0.4 else []
        return Bib(
            title=self.text(2, 8), subtitle=self.text(1, 5),
            notes=[self.text(5, 60) for _ in range(n_notes)],
            subjects=subjects, bodies=bodies,
            symbol=f"A/RES/{next(self._serial)}",
            date=f"{rng.randint(1990, 2024)}{rng.randint(1, 12):02d}"
                 f"{rng.randint(1, 28):02d}")

    def add_bibs(self, n: int) -> dict[int, Bib]:
        """``n`` new bibs with the next ids (for files that carry 001)."""
        out = {}
        for _ in range(n):
            self.max_id += 1
            out[self.max_id] = self.new_bib()
        return out

    def recent_id(self) -> int:
        """A recency-biased existing bib id: cataloguers mostly touch
        what was just added."""
        ids = self.ids()
        back = min(len(ids) - 1, int(self.rng.expovariate(1 / 40.0)))
        return ids[-1 - back]

    def ids(self) -> list[int]:
        return sorted(self.bibs)

    def linked(self, aid: int) -> set[int]:
        """Bibs whose current version links ``aid`` (any 650/710)."""
        return {b for b, x in self.bibs.items()
                if aid in x.subjects or aid in x.bodies}

    def auth_file(self) -> str:
        return "\n".join(auth_mrk(a, x) for a, x in sorted(self.auths.items()))

    def bib_file(self, bibs: dict[int, Bib]) -> str:
        return "\n".join(bib_mrk(b, x, self.auths) for b, x in bibs.items())

    def commit(self, bibs: dict[int, Bib]) -> None:
        for b, x in bibs.items():
            prev = self.bibs.get(b)
            x.versions = (prev.versions if prev else 0) + 1
            self.bibs[b] = x
            self.max_id = max(self.max_id, b)


#: the text query shapes; the text query after the i-th write has shape
#: TEXT_KINDS[i % 6]
TEXT_KINDS = ("fielded", "notes", "phrase", "negation", "logical", "boolean")

#: the reads after the i-th write: BLOCKS[i % 3].  A text query and its
#: repeat, link and heading lookups whose hit counts the truth knows
#: (``xref``, ``heading``), a history and an ``id:`` lookup.  A keyset
#: page (``keyset``) runs in traced runs only: its cost turns on where the
#: cursor falls (0.4 to 9 s on one store) far more than on the program
BLOCKS = (("text", "repeat", "heading"),
          ("history", "id"),
          ("text", "xref"))


def read_block(cat: Catalog, cycle: int) -> list[dict]:
    """The seeded reads that follow the ``cycle``-th write.  Text terms
    follow the vocabulary's Zipf popularity, so hit counts run from a
    handful of records to a large share of the store.  Ids and auths
    are bound at run time from the live truth (``pick``), so a block
    stays valid whatever writes ran before it."""
    rng = cat.rng
    w = cat.zipf.draw(rng, 2)
    text = {
        "fielded": f"245__a:{w[0]}",
        "notes": f"520:{w[0]}",
        "phrase": f'245__a:"{w[0]} {w[1]}"',
        "negation": f"{w[0]} -{w[1]}",
        "logical": f"title:{w[0]}",
        "boolean": f"245__a:{w[0]} OR 520__a:{w[1]}",
    }[TEXT_KINDS[cycle % len(TEXT_KINDS)]]
    out = []
    for kind in BLOCKS[cycle % len(BLOCKS)]:
        op = {"kind": kind, "pick": rng.random()}
        if kind in ("text", "repeat"):
            op["q"] = text
        elif kind == "keyset":
            op["q"] = f"245__a:{cat.zipf.one(rng)}"
        out.append(op)
    return out


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

@dataclass
class Batch:
    docs: list[tuple[int, str]]
    exact: set[int]              # byte-identical to an ingested doc
    near: set[int]               # one word in 50 changed from an ingested doc
    intra: list[tuple[int, int]]  # (kept, dropped) copies inside the batch
    fresh: set[int]              # new text, must survive


class Corpus:
    """A document corpus and a stream of dedup batches over it."""

    def __init__(self, rng: random.Random, n_docs: int, n_words: int = 20000):
        self.rng = rng
        self.words = vocabulary(rng, n_words)
        self.zipf = Zipf(self.words, 1.0)
        self.next_id = 0
        self.docs = [self._doc() for _ in range(n_docs)]
        self.ingested = [t for _, t in self.docs]

    def _text(self) -> str:
        return " ".join(self.zipf.draw(self.rng, self.rng.randint(40, 120)))

    def _doc(self) -> tuple[int, str]:
        self.next_id += 1
        return self.next_id, self._text()

    def _near(self, text: str) -> str:
        toks = text.split()
        for i in range(0, len(toks), 50):
            toks[self.rng.randrange(i, min(i + 50, len(toks)))] = \
                self.rng.choice(self.words)
        return " ".join(toks)

    def batch(self, size: int, exact: float = 0.1, near: float = 0.1,
              intra: float = 0.05) -> Batch:
        rng = self.rng
        n_exact, n_near = int(size * exact), int(size * near)
        n_intra = int(size * intra)
        n_fresh = size - n_exact - n_near - 2 * n_intra
        b = Batch([], set(), set(), [], set())
        for _ in range(n_exact):
            self.next_id += 1
            b.docs.append((self.next_id, rng.choice(self.ingested)))
            b.exact.add(self.next_id)
        for _ in range(n_near):
            self.next_id += 1
            b.docs.append((self.next_id, self._near(rng.choice(self.ingested))))
            b.near.add(self.next_id)
        for _ in range(n_intra):
            kid, text = self._doc()
            self.next_id += 1
            b.docs += [(kid, text), (self.next_id, text)]
            b.intra.append((kid, self.next_id))
        for _ in range(n_fresh):
            doc = self._doc()
            b.docs.append(doc)
            b.fresh.add(doc[0])
        rng.shuffle(b.docs)
        return b

    def ingest(self, kept: list[tuple[int, str]]) -> None:
        self.ingested += [t for _, t in kept]


# --------------------------------------------------------------------------
# analytics tables (the contract queries' star schema, events, documents
# and embeddings), as columns; the caller writes them
# --------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_LANGS = ("en", "fr", "es", "de", "zh")

#: rows per table, at the size of the smallest test scale factor
ANALYTICS_ROWS = {"customer": 150, "part": 200, "orders": 1500,
                  "lineitem": 6000, "events": 1000, "embeddings": 500}


def analytics_tables(rng: random.Random, docs: list[tuple[int, str]],
                     dim: int = 64) -> dict[str, dict[str, list]]:
    """Table name -> column name -> values, with the columns the contract
    queries read.  ``documents`` is made from ``docs`` (id, text).
    Timestamps are ``datetime`` values without a time zone."""
    import datetime as dt

    n = ANALYTICS_ROWS
    day = dt.datetime(1992, 1, 1)

    def days(lo: int, hi: int) -> dt.datetime:
        return day + dt.timedelta(days=rng.randint(lo, hi))

    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"))
                         for _ in range(n["customer"])]}
    t["part"] = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(('cold', 'warm', 'dark', 'pale'))} "
                   f"{rng.choice(('widget', 'gear', 'bolt', 'valve'))}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"
                    for _ in range(n["part"])],
        "p_type": [rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE"))
                   for _ in range(n["part"])],
        "p_size": [rng.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(rng.uniform(900, 2000), 2)
                          for _ in range(n["part"])]}
    t["orders"] = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000, 400000), 2)
                         for _ in range(n["orders"])],
        "o_orderdate": [days(0, 2400) for _ in range(n["orders"])],
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"))
                            for _ in range(n["orders"])]}
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    order = line = 0
    for _ in range(n["lineitem"]):
        line += 1
        if line > 7 or rng.random() < 0.25:
            order, line = rng.randrange(n["orders"]), 1
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(order)
        li["l_partkey"].append(rng.randrange(n["part"]))
        li["l_suppkey"].append(rng.randrange(10))
        li["l_linenumber"].append(line)
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(days(0, 2500))
    t["lineitem"] = li
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(t0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400))
                for _ in range(n["events"]))
    t["events"] = {
        "event_id": list(range(n["events"])),
        "ts": ts,
        "user_id": [rng.randrange(15) for _ in range(n["events"])],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n["events"])],
        "value": [round(rng.uniform(0, 500), 2) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}'
                  for _ in range(n["events"])]}
    t["documents"] = {
        "doc_id": [i for i, _ in docs], "text": [x for _, x in docs],
        "lang": [rng.choice(_LANGS) for _ in docs],
        "source": [f"src{i % 20}" for i, _ in docs],
        "n_chars": [len(x) for _, x in docs]}
    vecs = []
    for _ in range(n["embeddings"]):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    t["embeddings"] = {"vec_id": list(range(n["embeddings"])),
                       "embedding": vecs,
                       "label": [rng.randrange(10) for _ in vecs]}
    return t
