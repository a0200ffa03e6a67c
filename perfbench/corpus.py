"""Seeded code-like corpora with planted duplicate truth.

Every row is ``(repo, path, commit, lang, content)``, the input contract of
``DedupPipeline.run`` and ``run_stream_ingest``.
Generation is single-threaded and deterministic: the same seed gives
byte-identical rows and truth.

Planted pair kinds (the truth the recall check reads):

  exact      byte-identical copy under another (repo, path)
  near       a fork with one token replaced in ~3% of its lines (at least
             one line), i.e. true 5-shingle Jaccard well above 0.7
  contained  a small file pasted verbatim into a host 5-30x its size

The license header is not planted truth: header files share ~20 lines of
boilerplate but stay far below every acceptance threshold, so they load
the candidate tiers and verify without adding edges.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass, field

Row = tuple[str, str, str, str, str]

_KEYWORDS = ("def return if else for while import from class self None "
             "True False try except with as yield lambda not and or in is").split()
_LANGS = (("python", "py"), ("rust", "rs"), ("javascript", "js"), ("go", "go"))


@dataclass(frozen=True)
class Shape:
    """Input properties the engine's cost depends on."""

    n_files: int
    median_lines: int
    min_lines: int
    dup_frac: float        # base files that get an exact copy and a fork
    edit_frac: float       # share of a fork's lines with one token replaced
    header_frac: float     # files that start with the shared license header
    header_lines: int
    embed_frac: float      # files pasted whole into a 5-30x larger host


@dataclass
class Corpus:
    rows: list[Row] = field(default_factory=list)
    # planted pairs as ((repo, path), (repo, path), kind)
    pairs: list[tuple[tuple[str, str], tuple[str, str], str]] = field(
        default_factory=list)
    vocab: list[str] = field(default_factory=list)


class _Gen:
    def __init__(self, seed: int, vocab: list[str] | None = None) -> None:
        self.rng = random.Random(seed)
        letters = "abcdefghijklmnopqrstuvwxyz"
        self.vocab = vocab or [
            "".join(self.rng.choice(letters) for _ in range(self.rng.randint(3, 10)))
            + self.rng.choice(("", "_id", "s", "_buf", "Count", "()", ","))
            for _ in range(20000)
        ]
        self.n = 0

    def line(self) -> str:
        rng = self.rng
        words = rng.choices(self.vocab, k=rng.randint(3, 9))
        words.insert(rng.randrange(len(words)), rng.choice(_KEYWORDS))
        return "    " * rng.randint(0, 3) + " ".join(words)

    def lines(self, n: int) -> list[str]:
        return [self.line() for _ in range(n)]

    def edit(self, lines: list[str], frac: float) -> list[str]:
        """Replace one token in max(1, round(frac * len)) distinct lines."""
        out = list(lines)
        k = max(1, round(frac * len(out)))
        for i in self.rng.sample(range(len(out)), k):
            toks = out[i].split(" ")
            j = self.rng.randrange(len(toks))
            toks[j] = self.rng.choice(self.vocab) + "_x"
            out[i] = " ".join(toks)
        return out

    def key(self, tag: str) -> tuple[str, str, str, str]:
        """(repo, path, commit, lang) for the next file."""
        self.n += 1
        lang, ext = _LANGS[self.n % len(_LANGS)]
        repo = f"org{self.rng.randrange(40)}/{tag}{self.rng.randrange(200)}"
        path = f"src/m{self.n % 37}/f{self.n}.{ext}"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()[:12]
        return repo, path, commit, lang


def generate(shape: Shape, seed: int, tag: str = "r") -> Corpus:
    """A corpus of ``shape.n_files`` rows with its planted pairs.

    The layout (file sizes, which files are copied, forked, headed or
    pasted) depends on the shape only; the seed picks every token, edit
    and name. So corpora of one shape have the same size and duplicate
    structure for every seed, and runs on different seeds differ in
    content, not in how much work there is."""
    g = _Gen(seed)
    layout = random.Random(0)
    header = g.lines(shape.header_lines)
    c = Corpus(vocab=g.vocab)

    def add(lines: list[str]) -> tuple[str, str]:
        repo, path, commit, lang = g.key(tag)
        c.rows.append((repo, path, commit, lang, "\n".join(lines)))
        return repo, path

    while len(c.rows) < shape.n_files:
        room = shape.n_files - len(c.rows)
        if layout.random() < shape.embed_frac and room >= 2:
            small = g.lines(max(shape.min_lines, shape.median_lines // 3))
            own = g.lines(int(len(small) * (layout.uniform(5, 30) - 1)))
            cut = layout.randrange(len(own) + 1)
            a = add(small)
            b = add(own[:cut] + small + own[cut:])
            c.pairs.append((a, b, "contained"))
            continue
        n = int(layout.lognormvariate(math.log(shape.median_lines), 0.6))
        body = g.lines(max(shape.min_lines, min(n, 12 * shape.median_lines)))
        if layout.random() < shape.header_frac:
            body = header + body
        base = add(body)
        if layout.random() < shape.dup_frac and room >= 3:
            c.pairs.append((base, add(body), "exact"))
            c.pairs.append((base, add(g.edit(body, shape.edit_frac)), "near"))
    return c


def make_drop(base: Corpus, seed: int, frac: float, tag: str) -> list[Row]:
    """A snapshot drop: ``frac`` of the base files edited (same path, new
    commit) plus as many new files, half exact copies and half forks of
    base files. New files live in repos tagged ``tag``, so drops made with
    distinct tags never add the same (repo, path) twice."""
    rng = random.Random(seed * 7919 + 1)
    g = _Gen(seed, base.vocab)
    k = max(1, round(frac * len(base.rows)))
    rows: list[Row] = []
    for i in rng.sample(range(len(base.rows)), k):
        repo, path, commit, lang, content = base.rows[i]
        lines = g.edit(content.split("\n"), 0.03)
        rows.append((repo, path, commit + "m", lang, "\n".join(lines)))
    for j in range(k):
        src = base.rows[rng.randrange(len(base.rows))]
        content = src[4] if j % 2 == 0 else "\n".join(
            g.edit(src[4].split("\n"), 0.03))
        repo, path, commit, _ = g.key(tag)
        rows.append((repo, path, commit, src[3], content))
    return rows
