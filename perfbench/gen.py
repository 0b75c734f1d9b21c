"""Seeded input generators. Everything here is plain Python: the engine
receives only the files and frames these functions produce, and the
checks compare the engine's answers with the ground truth recorded
here. The same seed gives byte-identical output; another seed gives
different output."""

from __future__ import annotations

import bisect
import functools
import hashlib
import itertools
import json
import random
from xml.sax.saxutils import escape

from perfbench import params as P

FIRST_NAMES = (
    "Jean", "Johann", "Jan", "Giovanni", "Maria", "Pieter", "Paul", "Henri",
    "Francesco", "Anna", "Hans", "Émile", "Gustave", "Camille", "Katsushika",
    "Édouard", "Wassily", "Berthe", "Artemisia", "Sofonisba",
)
SYLLABLES = (
    "ber", "van", "mon", "rein", "dal", "cor", "vel", "ast", "ori", "lan",
    "gui", "tor", "mer", "sch", "ulm", "pra", "dor", "kel", "fio", "zan",
)
ADJECTIVES = (
    "Red", "Quiet", "Golden", "Broken", "Distant", "Silent", "Burning",
    "Frozen", "Hidden", "Ancient", "Northern", "Pale", "Crimson", "Lonely",
)
NOUNS = (
    "Harbor", "Garden", "Cathedral", "Orchard", "Bridge", "Mill", "Window",
    "Lagoon", "Meadow", "Tower", "Market", "Forest", "Chapel", "Valley",
)
PLACES = (
    "Arles", "Delft", "Giverny", "Venice", "Antwerp", "Toledo", "Kyoto",
    "Munich", "Seville", "Bruges", "Florence", "Rouen",
)
MUSEUMS = (
    "Rijksmuseum", "Louvre", "Uffizi", "Prado", "Hermitage", "Belvedere",
    "Tate Britain", "Musée d'Orsay", "Alte Pinakothek", "Mauritshuis",
    "National Gallery", "Pinacoteca di Brera",
)
SUBJECTS = (
    "river", "harbor", "saint", "battle", "portrait", "still life",
    "landscape", "mythology", "city view", "interior", "animals", "sea",
    "feast", "winter", "allegory", "workers",
)
CREATED_VARIANTS = ("painted_by", "made_by", "Authored_By", "sculpted_by")
DATED_VARIANTS = ("dated_to", "created_in")
HOUSED_VARIANTS = ("housed_in", "kept_in", "Located_At")
DEPICTS_VARIANTS = ("shows", "portrays", "depicts")
FORMATS = ("csv", "tsv", "json", "xml", "rdf")
RECORD_COLUMNS = ("id", "title", "artist", "year", "museum", "subject")
JSON_SCHEMA = ", ".join(f"{c} string" for c in RECORD_COLUMNS)


def unit_hash(*parts: str) -> float:
    """Deterministic value in [0, 1) from strings (not Python's salted
    ``hash``), so a decision is a pure function of its inputs."""
    h = hashlib.blake2b("\x1f".join(parts).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big") / 2.0**64


class Zipf:
    """Seeded Zipf(s) sampler over ``range(n)``."""

    def __init__(self, n: int, s: float):
        weights = [1.0 / (i + 1) ** s for i in range(n)]
        self.cum = list(itertools.accumulate(weights))

    def draw(self, rng: random.Random) -> int:
        return min(
            bisect.bisect_left(self.cum, rng.random() * self.cum[-1]),
            len(self.cum) - 1,
        )


@functools.lru_cache(maxsize=16)
def zipf(n: int, s: float) -> Zipf:
    return Zipf(n, s)


def _variant(name: str, rng: random.Random) -> str:
    """A spelling variant one edit away that keeps the first two
    characters and the length (so it stays in its blocking key)."""
    pos = rng.randrange(2, len(name))
    ch = name[pos]
    if ch == " ":
        pos, ch = 2, name[2]
    sub = "e" if ch != "e" else "a"
    return name[:pos] + sub + name[pos + 1:]


@functools.lru_cache(maxsize=4)
def artist_pool(seed: int) -> tuple[tuple[str, str], ...]:
    """``(canonical, variant)`` names of the catalogue's known artists,
    most prolific first. Surnames are three syllables, so each first
    name is exactly one blocking key (first two letters × length
    bucket), and the first name of rank r holds
    ``round(KNOWN_TOP_BLOCK / r ** KNOWN_BLOCK_SKEW)`` names: a few keys
    hold most names, the skew entity resolution meets in real
    catalogues. Popularity is shuffled across blocks."""
    rng = random.Random(f"artists:{seed}")
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    for rank, first in enumerate(FIRST_NAMES, 1):
        quota = round(P.KNOWN_TOP_BLOCK / rank ** P.KNOWN_BLOCK_SKEW)
        n = 0
        while n < quota:
            name = f"{first} {''.join(rng.choice(SYLLABLES) for _ in range(3)).capitalize()}"
            if name in seen:
                continue
            seen.add(name)
            out.append((name, _variant(name, rng)))
            n += 1
    rng.shuffle(out)
    return tuple(out)


def museum_records(seed: int, batch: int, n: int) -> list[dict]:
    """``n`` artwork records of one batch. Titles are unique within the
    batch; ``params.VARIANT_SHARE`` of artist mentions use the artist's
    spelling variant."""
    rng = random.Random(f"records:{seed}:{batch}")
    artists = artist_pool(seed)
    popularity = zipf(len(artists), P.ZIPF_S)
    titles: set[str] = set()
    out = []
    for i in range(n):
        while True:
            title = (
                f"The {rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}"
                f" of {rng.choice(PLACES)} {rng.randint(1, 99)}"
            )
            if title not in titles:
                titles.add(title)
                break
        canon, variant = artists[popularity.draw(rng)]
        out.append(
            {
                "id": f"INV-{seed % 1000:03d}-{batch:03d}-{i:05d}",
                "title": title,
                "artist": variant if rng.random() < P.VARIANT_SHARE else canon,
                "year": str(rng.randint(1400, 1950)),
                "museum": rng.choice(MUSEUMS),
                "subject": rng.choice(SUBJECTS),
            }
        )
    return out


def record_format(i: int) -> str:
    return FORMATS[i % len(FORMATS)]


def rdf_rows(rec: dict) -> list[dict]:
    """The rows the RDF/XML reader yields for one record's description:
    the title is the node label, ``creator``/``depicts`` are kept."""
    return [
        {"subject": rec["title"], "predicate": "creator", "object": rec["artist"], "lang": None},
        {"subject": rec["title"], "predicate": "depicts", "object": rec["subject"], "lang": None},
    ]


def render_files(records: list[dict]) -> dict[str, str]:
    """The batch as five files in the reference's format mix (CSV, TSV,
    non-strict JSON with trailing commas, XML, RDF/XML). Record ``i``
    goes to format ``record_format(i)``."""
    by_fmt: dict[str, list[dict]] = {f: [] for f in FORMATS}
    for i, rec in enumerate(records):
        by_fmt[record_format(i)].append(rec)
    files = {}
    for fmt, sep in (("csv", ","), ("tsv", "\t")):
        lines = [sep.join(RECORD_COLUMNS)]
        lines += [sep.join(r[c] for c in RECORD_COLUMNS) for r in by_fmt[fmt]]
        files[fmt] = "\n".join(lines) + "\n"
    objs = [
        "{" + ", ".join(f"{json.dumps(c)}: {json.dumps(r[c])}" for c in RECORD_COLUMNS) + ",}"
        for r in by_fmt["json"]
    ]
    files["json"] = "[\n" + ",\n".join(objs) + ",\n]\n"
    xml = ["<records>"]
    for r in by_fmt["xml"]:
        xml.append(
            "<record>" + "".join(f"<{c}>{escape(r[c])}</{c}>" for c in RECORD_COLUMNS) + "</record>"
        )
    xml.append("</records>")
    files["xml"] = "\n".join(xml) + "\n"
    rdf = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:dc="http://purl.org/dc/elements/1.1/"'
        ' xmlns:edm="http://www.europeana.eu/schemas/edm/">',
    ]
    for r in by_fmt["rdf"]:
        rdf.append(
            f'<rdf:Description rdf:about="http://example.org/object/{r["id"]}">'
            f"<dc:title>{escape(r['title'])}</dc:title>"
            f"<dc:creator>{escape(r['artist'])}</dc:creator>"
            f"<edm:depicts>{escape(r['subject'])}</edm:depicts>"
            "</rdf:Description>"
        )
    rdf.append("</rdf:RDF>")
    files["rdf"] = "\n".join(rdf) + "\n"
    return files


# -- documents for curation (kg_build) ----------------------------------------

LICENCE = (
    "Image and catalogue data courtesy of the museum, released under a Creative"
    " Commons Attribution licence; reuse is permitted with credit to the collection."
)


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Jaccard similarity of two texts' whitespace-token n-gram sets."""
    def grams(t: str) -> set[tuple[str, ...]]:
        toks = t.split()
        return {tuple(toks[i:i + n]) for i in range(max(1, len(toks) - n + 1))}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def _prose(rng: random.Random) -> list[str]:
    lo, hi = P.DOC_FILLER_WORDS
    return [
        "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        for _ in range(rng.randint(lo, hi))
    ]


def batch_docs(seed: int, batch: int, records: list[dict]) -> dict:
    """The batch's documents for ``curate``: one description per record
    plus planted cases, and the evaluation set they are checked against.

    Returns ``docs`` and ``benchmark`` (lists of ``{doc_id, text}``) and
    the ground truth: ``clean`` (ids that must survive), ``exact_groups``
    (id groups of one text; exactly one must survive), ``near_pairs``
    (``(original, copy, jaccard)``; at least one must survive),
    ``leaks`` (ids that must be gone) and ``pii`` (id → the planted
    e-mail or phone string, which must come out as ``[PII]``)."""
    rng = random.Random(f"docs:{seed}:{batch}")
    base = batch * 1_000_000  # ids are non-negative integers, as decontaminate requires
    docs, pii = [], {}
    for i, rec in enumerate(records):
        words = [
            f"{rec['title']}.", f"{rec['artist']} made this {rec['subject']} work in",
            f"{rec['year']}; it is kept at the {rec['museum']}.",
        ] + _prose(rng)
        doc_id = base + i
        if rng.random() < P.DOC_PII_SHARE:
            if rng.random() < 0.5:
                secret = f"curator.{rng.choice(SYLLABLES)}{rng.randint(1, 99)}@collection.org"
            else:
                secret = f"+31 20 {rng.randint(100, 999)} {rng.randint(1000, 9999)}"
            pii[doc_id] = secret
            words.insert(3, f"Contact {secret} for loans.")
        if rng.random() < P.DOC_BOILERPLATE_SHARE:
            words.append(LICENCE)
        docs.append({"doc_id": doc_id, "text": " ".join(words)})
    benchmark = [
        {"doc_id": base + 900_000 + j, "text": " ".join(_prose(rng))}
        for j in range(P.DOC_BENCHMARK_DOCS)
    ]
    n = len(docs)
    picks = rng.sample(range(n), int(n * P.DOC_EXACT_DUP_SHARE) + int(n * P.DOC_NEAR_DUP_SHARE))
    n_exact = int(n * P.DOC_EXACT_DUP_SHARE)
    extra, exact_groups, near_pairs = [], [], []
    for j, k in enumerate(picks):
        orig = docs[k]
        copy_id = base + n + j
        if j < n_exact:
            extra.append({"doc_id": copy_id, "text": orig["text"]})
            exact_groups.append((orig["doc_id"], copy_id))
        else:
            toks = orig["text"].split()
            pos = len(toks) // 2
            toks[pos] = "".join(rng.choice(SYLLABLES) for _ in range(4))
            text = " ".join(toks)
            extra.append({"doc_id": copy_id, "text": text})
            near_pairs.append((orig["doc_id"], copy_id, shingle_jaccard(orig["text"], text)))
        if orig["doc_id"] in pii:
            pii[copy_id] = pii[orig["doc_id"]]
    leaks = []
    for j, b in enumerate(rng.sample(benchmark, int(n * P.DOC_LEAK_SHARE))):
        leak_id = base + n + len(picks) + j
        extra.append({"doc_id": leak_id, "text": b["text"]})
        leaks.append(leak_id)
    planted = {docs[k]["doc_id"] for k in picks}
    clean = sorted(d["doc_id"] for d in docs if d["doc_id"] not in planted)
    all_docs = docs + extra
    rng.shuffle(all_docs)
    return {
        "docs": all_docs, "benchmark": benchmark, "clean": clean,
        "exact_groups": exact_groups, "near_pairs": near_pairs, "leaks": leaks, "pii": pii,
    }


# -- serving inputs --------------------------------------------------------


def embedding(key: str, dim: int) -> list[float]:
    """Deterministic clustered embedding: entities of one subject share
    a centre, plus per-entity noise — so IVF lists are meaningful."""
    centre = random.Random(f"centre:{key.split('|', 1)[0]}")
    noise = random.Random(f"noise:{key}")
    return [
        round(centre.gauss(0, 1) + 0.35 * noise.gauss(0, 1), 6) for _ in range(dim)
    ]


def query_schedule(
    seed: int, client: int, n: int, titles: list[str], artists: list[str], vocab: list[str]
) -> list[tuple[str, object]]:
    """One client's ``(kind, argument)`` list in the repeating order of
    ``params.QUERY_MIX``. Lookups and knn take a title, 2-hop queries
    an artist, text queries two vocabulary words. Titles and artists
    are drawn Zipf-skewed in the order given, so hot keys repeat; pass
    artists by catalogue popularity so the most-queried artists are
    the most prolific, as in a real catalogue."""
    rng = random.Random(f"queries:{seed}:{client}")
    pop_t, pop_a = zipf(len(titles), P.ZIPF_S), zipf(len(artists), P.ZIPF_S)
    items: list[tuple[str, object]] = []
    for i in range(n):
        kind = P.QUERY_MIX[i % len(P.QUERY_MIX)]
        if kind == "text":
            arg: object = " ".join(rng.sample(vocab, 2))
        elif kind == "khop":
            arg = artists[pop_a.draw(rng)]
        else:
            arg = titles[pop_t.draw(rng)]
        items.append((kind, arg))
    return items
