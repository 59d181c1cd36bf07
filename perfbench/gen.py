"""Seeded input generators with exact gold for the benchmark workloads.

Every row is a pure function of (workload, seed, row index): the row
permutation comes from one RNG keyed by (workload, seed), and each
cluster's text from an RNG keyed by (workload, seed, cluster). So any
slice of the rows, generated alone, is byte-identical to the same slice
of a whole-corpus run — the bytes do not depend on how many parts the
corpus is produced in. The multiset of cluster sizes is drawn once per
workload and row count, not per seed: a heavy-tailed draw would
otherwise change the pair work by a large factor from seed to seed, and
the benchmark compares runs made on different seeds.

Gold is the planted cluster of each row. The planting keeps every
planted link inside the pipeline's duplicate contract and keeps rows of
different clusters far outside it:

- exact copy: byte-identical text;
- near copy: ``k <= S // 40`` single-word substitutions of the base,
  where S is the base's 3-word-shingle count. One substitution changes
  at most 3 shingles, so Jaccard >= (S - 3k) / (S + 3k) >= 37/43 > 0.8;
- wrapped copy: fresh words before and after the base, so the base text
  is a substring of it (containment, base >= 50 chars);
- edit chain (``dup_dense``): each member is one substitution away from
  the one before on a body of >= 38 shingles, so neighbours have
  Jaccard >= 35/41 > 0.8 while members two steps apart may fall below
  0.8 — the cluster is held together only by the transitive closure.

Words come from a 30k-word Zipf(0.8) vocabulary, so two unrelated rows
share almost no shingles and their SimHash distance is far above 7.
``perfbench/test_gold.py`` checks, by brute force over exact Jaccard,
Hamming distance and containment, that gold equals the closure of the
detector contract.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from itertools import accumulate

_SYLL = (
    "ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo fu ga ge gi go "
    "ha he hi ho ka ke ki ko la le li lo lu ma me mi mo mu na ne ni no nu pa "
    "pe pi po pu ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo za "
    "ze zi zo é è ü ö ñ"
).split()
_VOCAB_N = 30000
_LANGS = ("en", "en", "en", "de", "fr", "es", "ja")


def _vocab() -> tuple[list[str], list[float]]:
    rng = random.Random("perfbench-vocab")
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < _VOCAB_N:
        w = "".join(rng.choice(_SYLL) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum = list(accumulate(1.0 / (i + 1) ** 0.8 for i in range(_VOCAB_N)))
    return words, cum


VOCAB, _CUM = _vocab()


def draw_words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=n)


def _other_word(rng: random.Random, w: str) -> str:
    while (x := draw_words(rng, 1)[0]) == w:
        pass
    return x


def render(tokens: list[str]) -> str:
    """Sentences of 6–17 words: first word capitalised, a period at the
    end. Sentence breaks depend only on the token count, so a substitution
    never moves them."""
    out, i, n = [], 0, len(tokens)
    while i < n:
        j = min(n, i + 6 + (i * 7 + n) % 12)
        sent = tokens[i:j]
        out.append(" ".join([sent[0].capitalize(), *sent[1:]]) + ".")
        i = j
    return " ".join(out)


def substitute(rng: random.Random, tokens: list[str], positions: list[int]) -> list[str]:
    out = list(tokens)
    for p in positions:
        out[p] = _other_word(rng, out[p])
    return out


@dataclass(frozen=True)
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str
    lang: str
    gold: int  # planted cluster id


@dataclass(frozen=True)
class Corpus:
    """Rows in order plus the layout needed to regenerate any slice."""

    workload: str
    seed: int
    n_rows: int
    sizes: list[int]  # members per cluster
    order: list[tuple[int, int]]  # row -> (cluster, member)

    def rows(self, lo: int = 0, hi: int | None = None) -> list[Page]:
        hi = self.n_rows if hi is None else hi
        make = _web_texts if self.workload == "web_mixed" else _dense_texts(self.seed)
        cache: dict[int, list[str]] = {}
        out = []
        for r in range(lo, hi):
            c, m = self.order[r]
            if c not in cache:
                rng = random.Random(f"{self.workload}:{self.seed}:{c}")
                cache[c] = make(rng, self.sizes[c])
            out.append(_page(self.workload, self.seed, r, c, cache[c][m]))
        return out


_EPOCH = dt.datetime(2024, 1, 1)


def _page(workload: str, seed: int, row: int, cluster: int, text: str) -> Page:
    rng = random.Random(f"{workload}:{seed}:row:{row}")
    site = rng.randrange(2000)
    title = " ".join(text.split()[:6])
    html = (
        f"<html><head><title>{title}</title></head><body><article><p>{text}</p>"
        f"</article><footer>site {site}</footer></body></html>"
    ).encode()
    return Page(
        url=f"https://www.site{site}.example/{workload}/{seed}/{row}",
        warc_ts=_EPOCH + dt.timedelta(seconds=rng.randrange(365 * 86400)),
        html=html,
        text=text,
        lang=rng.choice(_LANGS),
        gold=cluster,
    )


# ------------------------------------------------------------ web_mixed


def _web_texts(rng: random.Random, size: int) -> list[str]:
    base = draw_words(rng, rng.randint(100, 600))
    texts = [render(base)]
    n_shingles = len(base) - 2
    for _ in range(size - 1):
        kind = rng.choice(("exact", "near", "wrapped"))
        if kind == "exact":
            texts.append(texts[0])
        elif kind == "near":
            k = rng.randint(1, n_shingles // 40)
            texts.append(render(substitute(rng, base, rng.sample(range(len(base)), k))))
        else:
            extra = max(8, len(base) * rng.randint(15, 40) // 100)
            head = rng.randint(0, extra)
            texts.append(
                " ".join(
                    t
                    for t in (
                        render(draw_words(rng, head)) if head else "",
                        texts[0],
                        render(draw_words(rng, extra - head)) if extra > head else "",
                    )
                    if t
                )
            )
    return texts


def _web_layout(rng: random.Random, n_rows: int) -> list[int]:
    """About 40% of rows in clusters of 2–5 members, the rest singletons:
    a share q of clusters is multi-member with mean size 3.5, and
    3.5q / (3.5q + 1 - q) = 0.4 gives q = 0.16."""
    sizes, placed = [], 0
    while placed < n_rows:
        s = rng.randint(2, 5) if rng.random() < 0.16 else 1
        s = min(s, n_rows - placed)
        sizes.append(s)
        placed += s
    return sizes


# ------------------------------------------------------------ dup_dense

_BOILERPLATE_BLOCKS = 16


def _dense_texts(seed: int):
    """Edit-chain families. Half of them carry one of 16 shared boilerplate
    blocks (10–14 words) as a prefix or suffix: docs with the same block
    share its shingles and winnow fingerprints, which makes hot candidate
    buckets that verification rejects."""
    rng = random.Random(f"dup_dense:{seed}:boilerplate")
    blocks = [draw_words(rng, rng.randint(10, 14)) for _ in range(_BOILERPLATE_BLOCKS)]

    def texts(rng: random.Random, size: int) -> list[str]:
        body = draw_words(rng, rng.randint(40, 80))
        block = blocks[rng.randrange(len(blocks))] if rng.random() < 0.5 else []
        prefix = rng.random() < 0.5
        out = []
        for i in range(size):
            if i:
                body = substitute(rng, body, [rng.randrange(len(body))])
            parts = (block, body) if prefix else (body, block)
            out.append(" ".join(render(p) for p in parts if p))
        return out

    return texts


def _dense_layout(rng: random.Random, n_rows: int) -> list[int]:
    """About 92% of rows in families of heavy-tailed size (discrete
    Pareto, alpha 1.1, 2..300), the rest singletons."""
    n_family = n_rows - n_rows // 12
    sizes, placed = [], 0
    while placed < n_family:
        s = min(300, int(2 * (1.0 - rng.random()) ** (-1 / 1.1)), n_family - placed)
        sizes.append(s)
        placed += s
    return sizes + [1] * (n_rows - placed)


LAYOUTS = {"web_mixed": _web_layout, "dup_dense": _dense_layout}


def corpus(workload: str, seed: int, n_rows: int) -> Corpus:
    sizes = LAYOUTS[workload](random.Random(f"{workload}:{n_rows}:layout"), n_rows)
    order = [(c, m) for c, s in enumerate(sizes) for m in range(s)]
    random.Random(f"{workload}:{seed}:order").shuffle(order)
    return Corpus(workload, seed, n_rows, sizes, order)


# ------------------------------------------------------- standalone_ops

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def documents(seed: int, n_rows: int) -> dict[str, list]:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) in the
    shape the registered queries read: 10–100 words from a 30-word
    vocabulary, and one row in 20 a near copy of an earlier row (one word
    appended or the last word dropped)."""
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    for i in range(n_rows):
        if i >= 20 and rng.random() < 0.05:
            toks = texts[rng.randrange(i)].split()
            toks = toks + ["dup"] if rng.random() < 0.5 or len(toks) < 11 else toks[:-1]
        else:
            toks = rng.choices(_DOC_WORDS, k=rng.randint(10, 100))
        texts.append(" ".join(toks))
    return {
        "doc_id": list(range(n_rows)),
        "text": texts,
        "lang": [rng.choice(_DOC_LANGS) for _ in range(n_rows)],
        "source": [f"src{i % 20}" for i in range(n_rows)],
        "n_chars": [len(t) for t in texts],
    }
