"""Seeded corpus and query-log generator for the benchmark.

The rows have the shape of ``wiser_spark.sources.corpus``
(``repo, path, commit, lang, content``): Zipfian keyword tokens mixed
with identifiers drawn from a space of 64 x 16**id_hex names.  With
``id_hex=3`` and ``tail=1`` a corpus has that fixture's shape: every
identifier is drawn fresh from one shared space of 262k names, so ids
repeat across documents.  A smaller ``tail`` draws the rest from a
per-repo pool (repeats inside a repo), which keeps a small corpus's
vocabulary under the driver dictionary cache cap
(``SegmentIndex.DICT_DRIVER_CACHE_MAX``).

The query log draws its terms from the generated documents, so AND and
phrase queries have answers, and repeats earlier queries Zipf-style, so
a log mixes hot and cold shapes (``LOG_BLOCK``).  Everything is a pure
function of the seed; ``digest`` pins that.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from collections import Counter
from dataclasses import dataclass

KEYWORDS = [
    "return", "import", "def", "if", "else", "for", "while", "self",
    "class", "from", "int", "void", "static", "public", "func", "var",
    "const", "struct", "package", "new", "len", "range", "print", "true",
    "false", "none", "null", "try", "except", "raise",
]
LANGS = ["py", "py", "py", "java", "java", "go", "c"]
STEMS = ["get", "set", "load", "parse", "merge", "index", "query", "score"]
NOUNS = ["user", "doc", "term", "posting", "shard", "buffer", "node", "row"]
_TOKEN_RE = re.compile(r"[a-z0-9_]+")

QUERY_CLASSES = ("single", "and", "phrase", "absent")  # + repeats


LINES = (3, 40)    # lines per doc, inclusive range
WORDS = (2, 8)     # words per line, inclusive range
POOL = 64          # per-repo identifier pool size


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    keyword_share: float = 0.6         # share of words that are keywords
    id_hex: int = 3                    # identifier suffix: hex digits
    tail: float = 1.0                  # share of identifiers drawn fresh


def _identifier(rng: random.Random, id_hex: int) -> str:
    return (
        f"{rng.choice(STEMS)}_{rng.choice(NOUNS)}_"
        f"{rng.randrange(16 ** id_hex):0{id_hex}x}"
    )


def make_docs(spec: CorpusSpec, seed: int, start: int = 0) -> list[dict]:
    """Rows ``start .. start + n_docs - 1``; row i is a pure function of
    (spec, seed, i).  ``doc_id`` is the row number, which is also the
    oracle's insertion order."""
    rows = []
    pools: dict[int, list[str]] = {}
    for i in range(start, start + spec.n_docs):
        rng = random.Random(f"{seed}:{i}")
        repo_no = i // 50
        if repo_no not in pools:
            pool_rng = random.Random(f"{seed}:repo:{repo_no}")
            pools[repo_no] = [
                _identifier(pool_rng, spec.id_hex) for _ in range(POOL)
            ]
        pool = pools[repo_no]
        repo = f"org{repo_no // 50}/repo{repo_no % 50}"
        lang = rng.choice(LANGS)
        path = f"src/pkg{rng.randrange(8)}/mod{i:08d}.{lang}"
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        lines = []
        for _ in range(rng.randint(*LINES)):
            words = []
            for _ in range(rng.randint(*WORDS)):
                if rng.random() < spec.keyword_share:
                    k = min(int(rng.expovariate(0.25)), len(KEYWORDS) - 1)
                    words.append(KEYWORDS[k])
                elif rng.random() < spec.tail:
                    words.append(_identifier(rng, spec.id_hex))
                else:
                    words.append(rng.choice(pool))
            indent = "    " * rng.randrange(3)
            lines.append(
                indent + " ".join(words) + rng.choice(["", ":", ";", "()"])
            )
        rows.append({
            "doc_id": i, "repo": repo, "path": path, "commit": commit,
            "lang": lang, "content": "\n".join(lines),
        })
    return rows


def tokens(content: str) -> list[str]:
    """The engine's tokenizer (maximal ``[a-z0-9_]`` runs, lowercased)."""
    return _TOKEN_RE.findall(content.lower())


# One block of the query log: per slot, the query class, the kind of
# terms, and whether the request asks for snippets.  The block repeats,
# so every log, and every prefix of one, has the same mix whatever the
# seed; only the terms change.  Terms are typed by document frequency:
# a hot keyword (the three most frequent, df close to N), a mid keyword,
# or an identifier (df from 1 to a few, or to a repo pool's reuse), so
# a slot's cost does not swing with the seed.  The ``repeat`` slot sends
# again an earlier non-absent query of the log, chosen by Zipf(1) rank.
LOG_BLOCK = (
    ("single", "hot", False),
    ("and", "kw+id", True),
    ("single", "id", False),
    ("phrase", 2, False),
    ("absent", None, False),
    ("and", "id+id", False),
    ("repeat", None, False),
    ("single", "mid", True),
    ("and", "kw+kw", False),
    ("phrase", 3, False),
)
_RANK = {k: i for i, k in enumerate(KEYWORDS)}


def make_log(docs: list[dict], n_queries: int, seed) -> list[dict]:
    """Query requests ``{terms, is_phrase, return_snippets, cls, repeat}``
    drawn from ``docs`` slot by slot (``LOG_BLOCK``)."""
    rng = random.Random(f"{seed}:log")
    out: list[dict] = []
    while len(out) < n_queries:
        cls, kind, snip = LOG_BLOCK[len(out) % len(LOG_BLOCK)]
        prior = [q for q in out if q["cls"] != "absent" and not q["repeat"]]
        if cls == "repeat" and prior:
            ranks = [1.0 / (r + 1) for r in range(len(prior))]
            q = dict(rng.choices(prior, weights=ranks)[0], repeat=True)
        else:
            q = _fresh_query(rng, docs, "single" if cls == "repeat" else cls,
                             kind or "id")
        q["return_snippets"] = snip
        out.append(q)
    return out


def _fresh_query(rng: random.Random, docs: list[dict], cls: str,
                 kind) -> dict:
    while True:
        terms = _pick(rng, tokens(rng.choice(docs)["content"]), cls, kind)
        if terms:
            return {"terms": terms, "is_phrase": cls == "phrase",
                    "cls": cls, "repeat": False}


def _pick(rng: random.Random, toks: list[str], cls: str, kind):
    """Terms of one query from one doc's tokens, or None when the doc
    has no tokens of the kind asked for."""
    ids = sorted({t for t in toks if t not in _RANK})
    kws = sorted({t for t in toks if t in _RANK})
    hot = [t for t in kws if _RANK[t] < 3]
    mid = [t for t in kws if 3 <= _RANK[t] < 15]
    if cls == "phrase":
        # n adjacent tokens with at least one keyword and one identifier
        spots = [
            i for i in range(len(toks) - kind + 1)
            if any(t in _RANK for t in toks[i:i + kind])
            and any(t not in _RANK for t in toks[i:i + kind])
        ]
        if not spots:
            return None
        at = rng.choice(spots)
        return toks[at:at + kind]
    if cls == "absent":
        return [rng.choice(kws), f"zzabsent{rng.randrange(10 ** 6)}"] \
            if kws else None
    pools = {"hot": [hot], "mid": [mid], "id": [ids], "kw+id": [kws, ids],
             "id+id": [ids, ids], "kw+kw": [kws, kws]}[kind]
    terms = []
    for pool in pools:
        left = [t for t in pool if t not in terms]
        if not left:
            return None
        terms.append(rng.choice(left))
    return terms


def digest(obj) -> str:
    """sha256 of a canonical JSON rendering."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


def profile(docs: list[dict], log: list[dict], cache_max: int) -> dict:
    """The recorded shape of a workload's inputs."""
    df: Counter = Counter()
    content_bytes = 0
    for d in docs:
        content_bytes += len(d["content"].encode())
        df.update(set(tokens(d["content"])))
    n = max(len(docs), 1)
    classes = {"ge_half_n": 0, "ge_1pct_n": 0, "ge_2": 0, "eq_1": 0}
    for c in df.values():
        if c >= n / 2:
            classes["ge_half_n"] += 1
        elif c >= n / 100:
            classes["ge_1pct_n"] += 1
        elif c >= 2:
            classes["ge_2"] += 1
        else:
            classes["eq_1"] += 1
    vocab = len(df)
    shapes = [(tuple(q["terms"]), q["is_phrase"]) for q in log]
    seen: set = set()
    repeated = 0
    for s in shapes:
        repeated += s in seen
        seen.add(s)
    nq = max(len(log), 1)
    seen_terms: set = set()
    n_terms = rep_terms = 0
    for q in log:
        for t in q["terms"]:
            n_terms += 1
            rep_terms += t in seen_terms
            seen_terms.add(t)
    return {
        "n_docs": len(docs),
        "content_bytes": content_bytes,
        "vocabulary": vocab,
        "dict_driver_cache_max": cache_max,
        "vocabulary_over_cache_cap": vocab > cache_max,
        "df_class_share": {k: round(v / max(vocab, 1), 6)
                           for k, v in classes.items()},
        "query_class_share": {
            c: round(sum(q["cls"] == c for q in log) / nq, 4)
            for c in QUERY_CLASSES
        },
        "snippet_share": round(sum(q["return_snippets"] for q in log) / nq, 4),
        "repeated_query_share": round(repeated / nq, 4),
        "repeated_term_share": round(rep_terms / max(n_terms, 1), 4),
        "n_queries": len(log),
    }
