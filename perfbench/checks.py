"""Output checks that do not use the engine: ground truth is recomputed
in plain Python (or DuckDB / NumPy) from what the generators recorded,
following each operation's documented contract."""

from __future__ import annotations

import csv
import glob
import os
import re

from perfbench import fakellm, gen

# relation variant (lowercased, underscores as spaces) -> canonical
# relation, the engine's documented vocabulary for the variants the fake
# LLM emits; anything else keeps its cleaned form
EXPECTED_CANONICAL = {
    "painted by": "created by", "made by": "created by",
    "authored by": "created by", "sculpted by": "created by",
    "dated to": "dated", "created in": "dated",
    "housed in": "located in", "kept in": "located in", "located at": "located in",
    "shows": "depicts", "portrays": "depicts", "depicts subject": "depicts",
}
_ACCENTED = "áàâäãåéèêëíìîïóòôöõúùûüçñÿý"
_FOLDED = "aaaaaaeeeeiiiiooooouuuucnyy"
_FOLD = str.maketrans(_ACCENTED, _FOLDED)
_IDENT = re.compile(r"[^A-Za-z0-9_]")


def canonical_relation(rel: str) -> str:
    cleaned = rel.strip().replace("_", " ").lower()
    return EXPECTED_CANONICAL.get(cleaned, cleaned)


def sanitize(name: str | None, default: str) -> str:
    cleaned = _IDENT.sub("", (name or "").strip())
    if not cleaned:
        return default
    return "_" + cleaned if cleaned[0].isdigit() else cleaned


def block_key(name: str) -> str:
    return f"{name.lower().translate(_FOLD)[:2]}|{len(name) // 8}"


def levenshtein_within(a: str, b: str, k: int) -> bool:
    """Edit distance of ``a`` and ``b`` is at most ``k`` (banded DP)."""
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [k + 1] * len(b)
        lo, hi = max(1, i - k), min(len(b), i + k)
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != b[j - 1]))
        if min(cur[max(0, lo - 1): hi + 1]) > k:
            return False
        prev = cur
    return prev[len(b)] <= k


def record_rows(records: list[dict], mixed: bool = True) -> list[dict]:
    """What the readers hand to extraction, one dict per LLM call.
    ``mixed``: the records were rendered in the five-format mix (else
    all as JSON lines)."""
    rows = []
    for i, rec in enumerate(records):
        if mixed and gen.record_format(i) == "rdf":
            rows.extend(gen.rdf_rows(rec))
        else:
            rows.append(rec)
    return rows


def expected_triplets(records: list[dict], mixed: bool = True) -> list[tuple[str, str, str, str, str]]:
    """Valid, relation-canonicalized triplets extraction must produce."""
    out = set()
    for row in record_rows(records, mixed):
        for t in fakellm.reply_triplets(row):
            if t.get("subject") is None or t.get("relation") is None or t.get("object") is None:
                continue
            out.add((
                t["subject"], t.get("subject_type") or fakellm.DEFAULT_TYPE,
                canonical_relation(t["relation"]),
                t["object"], t.get("object_type") or fakellm.DEFAULT_TYPE,
            ))
    return sorted(out)


def _deletions(s: str, k: int) -> set[str]:
    """Every string reachable from ``s`` by at most ``k`` deletions."""
    out, frontier = {s}, {s}
    for _ in range(k):
        frontier = {w[:i] + w[i + 1:] for w in frontier for i in range(len(w))}
        out |= frontier
    return out


def resolve_names(names: set[str], max_edit: int, max_block: int) -> tuple[dict, dict]:
    """Blocked fuzzy match → connected components → min name per
    component. Blocks larger than ``max_block`` are skipped. Returns
    ``(mapping, stats)``; ``stats`` holds the pairs examined (every
    pair inside a joined block), the pairs matched and the block sizes,
    largest first.

    Two names within edit distance k share a string reachable from each
    by at most k deletions, so candidate pairs come from a deletion
    index and only those are verified."""
    blocks: dict[str, list[str]] = {}
    for n in names:
        blocks.setdefault(block_key(n), []).append(n)
    parent = {n: n for n in names}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    examined = matched = 0
    for members in blocks.values():
        if len(members) > max_block:
            continue
        examined += len(members) * (len(members) - 1) // 2
        index: dict[str, list[str]] = {}
        for m in members:
            for d in _deletions(m.lower(), max_edit):
                index.setdefault(d, []).append(m)
        cands = {
            (a, b) for group in index.values() for a in group for b in group if a < b
        }
        for a, b in cands:
            if levenshtein_within(a.lower(), b.lower(), max_edit):
                matched += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    stats = {
        "pairs_examined": examined, "pairs_matched": matched,
        "block_sizes": sorted((len(m) for m in blocks.values()), reverse=True),
    }
    return {n: find(n) for n in names}, stats


def expected_graph(records: list[dict], known: list[str], max_edit: int, max_block: int):
    """``(nodes, rels, triplets, resolve stats)`` of the exported graph:
    nodes as ``(name, labels)`` and rels as ``(src, dst, type)``. The
    batch's Person vertices are resolved together with the ``known``
    artist names; only the batch's own vertices are exported."""
    trips = expected_triplets(records)
    verts = {(s, st) for s, st, _, _, _ in trips} | {(o, ot) for _, _, _, o, ot in trips}
    persons = {v for v, label in verts if label == "Person"}
    mapping, stats = resolve_names(persons | set(known), max_edit, max_block)
    canon = lambda x: mapping.get(x, x)  # noqa: E731
    labels: dict[str, set[str]] = {}
    for v, label in verts:
        labels.setdefault(canon(v), set()).add(sanitize(label, "Entity"))
    nodes = {(n, ";".join(sorted(ls))) for n, ls in labels.items()}
    rels = {(canon(s), canon(o), sanitize(r, "RELATED")) for s, _, r, o, _ in trips}
    return nodes, rels, trips, stats


def check_curated(truth: dict, got: dict[str, tuple[str, str]]) -> list[str]:
    """Problems with a curated split ``got`` (doc id → (text, split))
    against the generator's ``truth`` (see ``gen.batch_docs``): every
    clean document kept with its text unchanged, one survivor per exact
    group, at least one per near-duplicate pair, no leak, every planted
    e-mail or phone number replaced by ``[PII]``."""
    text = {d["doc_id"]: d["text"] for d in truth["docs"]}
    problems = []
    missing = [i for i in truth["clean"] if i not in got]
    if missing:
        problems.append(f"{len(missing)} clean documents dropped (e.g. {missing[0]})")
    for group in truth["exact_groups"]:
        if sum(i in got for i in group) != 1:
            problems.append(f"exact duplicates {group}: {sum(i in got for i in group)} kept")
    for a, b, _ in truth["near_pairs"]:
        if a not in got and b not in got:
            problems.append(f"near-duplicate pair {a}/{b}: both dropped")
    leaked = [i for i in truth["leaks"] if i in got]
    if leaked:
        problems.append(f"{len(leaked)} leaked evaluation documents kept (e.g. {leaked[0]})")
    for i, (t, split) in got.items():
        want = text[i].replace(truth["pii"][i], "[PII]") if i in truth["pii"] else text[i]
        if t != want:
            problems.append(f"{i}: text differs from its redacted original")
        if split not in ("train", "val", "test"):
            problems.append(f"{i}: split {split!r}")
    return problems[:5]


def read_csv_parts(path: str) -> set[tuple[str, ...]]:
    rows = set()
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            rows.update(tuple(r) for r in csv.reader(f) if r)
    return rows


def bm25_duckdb(con, query: str, k: int, k1: float = 1.2, b: float = 0.75) -> list[tuple[str, float]]:
    """BM25 top-k over table ``docs(id, text)`` in DuckDB, by the
    documented formula: lowercase whitespace terms, Lucene idf, scores
    rounded to 4 dp, ties by id."""
    terms = sorted({t for t in query.lower().split() if t})
    sql = f"""
    WITH toks AS (
      SELECT id, lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term,
             len(string_split_regex(trim(text), '\\s+')) AS dl FROM docs),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM (SELECT DISTINCT id, dl FROM toks)),
    tf AS (SELECT term, id, dl, count(*) AS tf FROM toks WHERE term IN ({','.join('?' for _ in terms)})
           GROUP BY term, id, dl),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT id, round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * {k1 + 1.0} / (tf.tf + {k1} * ({1.0 - b} + {b} * tf.dl / stats.avgdl))), 4) AS score
    FROM tf JOIN df USING (term), stats GROUP BY id ORDER BY score DESC, id ASC LIMIT {k}
    """
    return [(r[0], float(r[1])) for r in con.execute(sql, terms).fetchall()]


def same_topk(got: list[tuple[str, float]], want: list[tuple[str, float]], tol: float = 2e-4) -> bool:
    """Equal top-k score lists; ids must agree except among ties."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    if not want:
        return True
    edge = want[-1][1]
    strict = lambda xs: {i for i, s in xs if s > edge + tol}  # noqa: E731
    return strict(got) == strict(want)
