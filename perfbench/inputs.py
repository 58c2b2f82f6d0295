"""Seeded input generators for the cookbook and admission workloads.

The same seed gives byte-identical files. The program under test only
ever sees the generated files; the parameters that shape them are
returned with the paths so a result records what it measured.
"""

from __future__ import annotations

import bisect
import os
import random
import zipfile

BOARD_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

# A cookbook corpus: Zipf-distributed words with the cases the reference
# sanitizer ``([^\s\w]|_)+`` (ASCII ``\w``) has to get right -- tokens
# holding ``ñ``/``é`` (split by the sanitizer), punctuation, ``_``-joined
# words, capitals, blank lines and one-token lines (no bigram).
COOKBOOK = {
    "books": 16,
    "shelves": 8,
    "lines_per_book": 1000,
    "vocab": 20000,
    "zipf_s": 1.1,
    "max_tokens_per_line": 14,
    "nonascii_word_share": 0.03,
    "punct_share": 0.08,
    "underscore_share": 0.01,
    "capital_share": 0.1,
    "blank_line_share": 0.03,
    "one_token_line_share": 0.03,
    "punct_line_share": 0.01,
}

# A document stream with planted near-duplicates: each duplicate copies an
# earlier original and changes one token, so its token-trigram Jaccard
# with the source stays far above the admitter's 0.5 threshold, while
# independent documents share almost no trigrams.
ADMISSION = {
    "seed_docs": 300,
    "legs": 2,
    "files_per_leg": 1,
    "docs_per_file": 150,
    "dup_rate": 0.3,
    "min_tokens": 30,
    "max_tokens": 60,
    "vocab": 8000,
    "zipf_s": 0.8,
}

_PUNCT = (",", ".", ";", ":", "!", "?", "--", "'s", ")", "...")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _vocabulary(rng: random.Random, size: int, nonascii_share: float = 0.0) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 9)))
        if rng.random() < nonascii_share:
            i = rng.randrange(len(w) + 1)
            w = w[:i] + rng.choice("ñé") + w[i:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    total, cum = 0.0, []
    for rank in range(1, n + 1):
        total += rank**-s
        cum.append(total)
    return cum


def _draw(rng: random.Random, words: list[str], cum: list[float], k: int) -> list[str]:
    top = cum[-1]
    return [words[bisect.bisect(cum, rng.random() * top)] for _ in range(k)]


def _cookbook_line(rng: random.Random, words, cum, p: dict) -> str:
    r = rng.random()
    if r < p["blank_line_share"]:
        return rng.choice(("", "   "))
    r -= p["blank_line_share"]
    if r < p["punct_line_share"]:
        return rng.choice(("* * *", "--", "...", "___"))
    r -= p["punct_line_share"]
    k = 1 if r < p["one_token_line_share"] else rng.randint(2, p["max_tokens_per_line"])
    out = []
    for tok in _draw(rng, words, cum, k):
        if rng.random() < p["capital_share"]:
            tok = tok.capitalize()
        if rng.random() < p["punct_share"]:
            tok += rng.choice(_PUNCT)
        if out and rng.random() < p["underscore_share"]:
            out[-1] += "_" + tok
        else:
            out.append(tok)
    return " ".join(out)


def cookbook_lines(seed: int, params: dict = COOKBOOK) -> list[list[str]]:
    """The corpus as one list of lines per book."""
    rng = random.Random(seed)
    words = _vocabulary(rng, params["vocab"], params["nonascii_word_share"])
    cum = _zipf_cum_weights(len(words), params["zipf_s"])
    return [
        [_cookbook_line(rng, words, cum, params) for _ in range(params["lines_per_book"])]
        for _ in range(params["books"])
    ]


def write_cookbook(root: str, seed: int, params: dict = COOKBOOK) -> dict:
    """Write the corpus as text books and as ZIP shelves of books.

    Returns the paths, the lines (for the recount oracle) and the
    parameters."""
    books = cookbook_lines(seed, params)
    text_dir = os.path.join(root, "text")
    zip_dir = os.path.join(root, "shelves")
    os.makedirs(text_dir)
    os.makedirs(zip_dir)
    per_shelf = len(books) // params["shelves"]
    text_bytes = 0
    for b, lines in enumerate(books):
        data = ("\n".join(lines) + "\n").encode("utf-8")
        text_bytes += len(data)
        with open(os.path.join(text_dir, f"book-{b:02d}.txt"), "wb") as fh:
            fh.write(data)
    for s in range(params["shelves"]):
        with zipfile.ZipFile(os.path.join(zip_dir, f"shelf-{s}.zip"), "w") as zf:
            for b in range(s * per_shelf, (s + 1) * per_shelf):
                # Fixed entry timestamps keep the archives byte-identical.
                info = zipfile.ZipInfo(f"book-{b:02d}.txt", date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(info, ("\n".join(books[b]) + "\n").encode("utf-8"))
    return {
        "text_dir": text_dir,
        "zip_dir": zip_dir,
        "lines": [line for lines in books for line in lines],
        "params": dict(params, text_mb=round(text_bytes / 2**20, 3)),
    }


def admission_docs(seed: int, params: dict = ADMISSION) -> tuple[list[tuple[int, str]], set[int]]:
    """``(doc_id, text)`` in arrival order (seed corpus first), and the
    ids of the planted duplicates. Duplicates only arrive after the
    seed corpus and always copy an original with a lower id."""
    rng = random.Random(seed)
    words = _vocabulary(rng, params["vocab"])
    cum = _zipf_cum_weights(len(words), params["zipf_s"])
    arriving = params["legs"] * params["files_per_leg"] * params["docs_per_file"]
    docs: list[tuple[int, str]] = []
    originals: list[list[str]] = []
    dups: set[int] = set()
    for doc_id in range(params["seed_docs"] + arriving):
        if doc_id >= params["seed_docs"] and rng.random() < params["dup_rate"]:
            toks = list(rng.choice(originals))
            i = rng.randrange(len(toks))
            new = toks[i]
            while new == toks[i]:
                new = _draw(rng, words, cum, 1)[0]
            toks[i] = new
            dups.add(doc_id)
        else:
            toks = _draw(rng, words, cum, rng.randint(params["min_tokens"], params["max_tokens"]))
            originals.append(toks)
        docs.append((doc_id, " ".join(toks)))
    return docs, dups


def write_admission(root: str, seed: int, params: dict = ADMISSION) -> dict:
    """Write the seed corpus and one parquet file per arrival batch.

    Returns the paths, the expected admitted ids per batch id, and the
    parameters."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, dups = admission_docs(seed, params)
    os.makedirs(root)
    n_seed, per_file = params["seed_docs"], params["docs_per_file"]

    def write(path: str, rows: list[tuple[int, str]]) -> None:
        table = pa.table(
            {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
             "text": pa.array([r[1] for r in rows], pa.string())}
        )
        pq.write_table(table, path)

    seed_path = os.path.join(root, "seed.parquet")
    write(seed_path, docs[:n_seed])
    files, expected = [], {}
    for b in range(params["legs"] * params["files_per_leg"]):
        rows = docs[n_seed + b * per_file : n_seed + (b + 1) * per_file]
        path = os.path.join(root, f"arrival-{b:03d}.parquet")
        write(path, rows)
        files.append(path)
        expected[b] = {i for i, _ in rows if i not in dups}
    return {
        "seed_path": seed_path,
        "files": files,
        "expected": expected,
        "planted": len(dups),
        "params": params,
    }
