"""Seeded input generator for the benchmark workloads.

Everything the engine sees is made here from the workload seed: the
review/user/business CSV files (with planted dirty rows of each
quarantine class and planted near-duplicate spam families), the
lakehouse upsert batches, and the Spark expression that turns a
rate-source ``value`` into review text. The same seed gives
byte-identical inputs. Apart from that Spark expression, only the
standard library is used.
"""

from __future__ import annotations

import csv
import datetime
import os
import random
import re

# Sentiment vocabulary: common English opinion words. Their frequency
# in a review follows its star rating, so a bag-of-words classifier has
# real signal and ``model_f1`` measures something.
POSITIVE = (
    "great good love excellent amazing friendly delicious awesome best "
    "perfect fantastic wonderful nice happy fresh recommend favorite "
    "enjoyed tasty helpful beautiful clean fast lovely pleasant superb "
    "outstanding incredible glad brilliant"
).split()
NEGATIVE = (
    "bad terrible awful rude horrible worst poor disappointing slow dirty "
    "cold bland overpriced gross hate mediocre stale disgusting sad angry "
    "wrong broken annoying nasty unfriendly ugly boring noisy sick useless"
).split()
STOPWORDS = "the and was a to it i we of for in my is this that with".split()
_SYLLABLES = (
    "ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo fu ga ge "
    "gi go gu ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni no "
    "nu pa pe pi po pu ra re ri ro ru sa se si so su ta te ti to tu va "
    "ve vi vo vu za ze zi zo zu"
).split()
STATES = "AZ NV ON OH NC PA QC WI IL SC".split()
CATEGORIES = (
    "Restaurants Food Nightlife Bars Shopping Coffee Pizza Burgers Mexican "
    "Italian Chinese Sushi Bakeries Breakfast Sandwiches Salad Vegan "
    "Seafood Steakhouses Desserts Thai Indian Cafes Pubs Delis"
).split()

_DATE0 = 17532  # 2018-01-01 as days since the epoch


def long_tail_vocab(size: int = 4000) -> list[str]:
    """Deterministic pseudo-words (two to four syllables), independent of
    the seed: the seed only decides how they are sampled."""
    words, seen = [], set()
    i = 0
    n = len(_SYLLABLES)
    while len(words) < size:
        k = 2 + i % 3
        w = "".join(_SYLLABLES[(i * 7 + j * 13 + (i // n) * j) % n] for j in range(k))
        w += _SYLLABLES[(i // 3) % n]
        if w not in seen:
            seen.add(w)
            words.append(w)
        i += 1
    return words


class TextModel:
    """Samples review text: a Zipf long tail plus opinion words whose
    polarity follows the star rating."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = long_tail_vocab()
        # cumulative Zipf(1.1) weights for random.choices
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(self.vocab))]
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.cum.append(acc)

    def tokens(self, stars: int, n: int) -> list[str]:
        rng = self.rng
        polarity = (stars - 3) / 2.0  # -1 .. 1
        p_pos = 0.5 + 0.42 * polarity
        out = []
        tail = rng.choices(self.vocab, cum_weights=self.cum, k=n)
        for i in range(n):
            u = rng.random()
            if u < 0.16:
                pool = POSITIVE if rng.random() < p_pos else NEGATIVE
                out.append(rng.choice(pool))
            elif u < 0.36:
                out.append(rng.choice(STOPWORDS))
            else:
                out.append(tail[i])
        return out

    def review(self, stars: int, n: int) -> str:
        """Review text with the punctuation and casing real reviews have
        (commas force CSV quoting; a few reviews span lines)."""
        rng = self.rng
        toks = self.tokens(stars, n)
        toks[0] = toks[0].capitalize()
        for i in range(5, len(toks) - 1, 9):
            toks[i] += rng.choice([",", ".", "", "!"])
        text = " ".join(toks) + rng.choice([".", "!", "!!", "?", "."])
        if rng.random() < 0.03:
            cut = len(text) // 2
            sp = text.find(" ", cut)
            if sp > 0:
                text = text[:sp] + "\n" + text[sp + 1:]
        return text


def _stars(rng: random.Random) -> int:
    return rng.choices([1, 2, 3, 4, 5], weights=[12, 9, 13, 26, 40])[0]


REVIEW_HEADER = [
    "review_id", "user_id", "business_id", "stars", "date", "text",
    "useful", "funny", "cool",
]

# dirty-row classes planted in the review CSV, as a share of rows each
DIRTY_SHARE = 0.01
DIRTY_CLASSES = ("stars_gt_5", "junk_stars", "missing_text", "broken_quoting")

# Target Jaccard levels of planted spam copies, on both sides of the
# 0.5 threshold the near-duplicate stage verifies at.
COPY_LEVELS = (0.9, 0.75, 0.6, 0.52, 0.45, 0.3)


def normalize(text: str) -> str:
    """The cleaned text the engine sees, for this generator's alphabet
    (letters, spaces, ``,.!?`` and newlines): non-letters become spaces,
    runs of spaces collapse, edges are trimmed."""
    return " ".join(re.sub("[^A-Za-z]", " ", text).split())


def write_review_csvs(
    out_dir: str,
    seed: int,
    *,
    n_reviews: int,
    n_users: int,
    n_businesses: int,
    spam_share: float = 0.2,
) -> dict:
    """Write review.csv, user.csv and business.csv into ``out_dir``.

    Planted dirty rows, each ``DIRTY_SHARE`` of the reviews:
    ``stars_gt_5`` (6 or 2017: parses, then quarantined by range),
    ``junk_stars`` (non-numeric), ``missing_text`` (empty field) and
    ``broken_quoting`` (a text with a comma written unquoted, so the
    row has an extra field and the CSV reader rejects it).

    ``spam_share`` of the reviews are copy-paste spam: families of one
    original plus one copy per level in ``COPY_LEVELS``, scattered
    through the file. Spam rows are never dirty.

    Returns the paths, the planted dirty counts, the spam families (as
    review ids) and the normalized text of every clean review.
    """
    rng = random.Random(seed * 1_000_003 + 11)
    tm = TextModel(rng)
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.csv")
        for name in ("review", "user", "business")
    }
    with open(paths["user"], "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["user_id", "elite"])
        for u in range(n_users):
            elite = "None" if rng.random() < 0.8 else str(2010 + rng.randrange(10))
            w.writerow([f"u{u:07d}", elite])
    with open(paths["business"], "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["business_id", "state", "categories"])
        for b in range(n_businesses):
            cats = rng.sample(CATEGORIES, rng.randint(1, 4))
            w.writerow([f"b{b:06d}", rng.choice(STATES), ";".join(cats)])

    # spam families: slot -> (family index, text)
    per_family = 1 + len(COPY_LEVELS)
    n_families = int(n_reviews * spam_share) // per_family
    slots = rng.sample(range(n_reviews), n_families * per_family)
    spam: dict[int, tuple[int, int, str]] = {}
    for fam in range(n_families):
        stars = _stars(rng)
        toks = tm.tokens(stars, rng.randint(30, 45))
        texts = [toks] + [_mutate(rng, tm, toks, lv) for lv in COPY_LEVELS]
        for j, t in enumerate(texts):
            spam[slots[fam * per_family + j]] = (fam, stars, " ".join(t))

    planted = dict.fromkeys(DIRTY_CLASSES, 0)
    families: list[list[str]] = [[] for _ in range(n_families)]
    texts: dict[str, str] = {}
    biz_w = [1.0 / (r + 1) ** 0.8 for r in range(n_businesses)]
    biz_ids = rng.choices(range(n_businesses), weights=biz_w, k=n_reviews)
    with open(paths["review"], "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(REVIEW_HEADER)
        for i in range(n_reviews):
            rid = f"{i + 1:09d}"
            if i in spam:
                fam, stars, text = spam[i]
                families[fam].append(rid)
            else:
                stars = _stars(rng)
                text = tm.review(stars, rng.randint(20, 40))
            row = [
                rid,
                f"u{rng.randrange(n_users):07d}",
                f"b{biz_ids[i]:06d}",
                str(stars),
                _date(_DATE0 + rng.randrange(1500)),
                text,
                str(rng.randrange(20)),
                str(rng.randrange(10)),
                str(rng.randrange(10)),
            ]
            u = rng.random()
            kind = None
            if i not in spam and u < DIRTY_SHARE * len(DIRTY_CLASSES):
                kind = DIRTY_CLASSES[int(u / DIRTY_SHARE)]
                planted[kind] += 1
            if kind == "stars_gt_5":
                row[3] = rng.choice(["6", "2017"])
            elif kind == "junk_stars":
                row[3] = rng.choice(["abc", "four", "n/a"])
            elif kind == "missing_text":
                row[5] = ""
            elif kind == "broken_quoting":
                # the writer forgot to quote a text holding a comma
                words = " ".join(tm.tokens(stars, 6))
                f.write(",".join(row[:5]) + f",{words}, extra words," +
                        ",".join(row[6:]) + "\n")
                continue
            if kind is None:
                texts[rid] = normalize(text)
            w.writerow(row)
    return {"paths": paths, "planted": planted, "families": families,
            "texts": texts, "n_reviews": n_reviews}


def _date(days: int) -> str:
    return (datetime.date(1970, 1, 1) + datetime.timedelta(days=days)).isoformat()


# --- near-duplicate ground truth ---------------------------------------------


def shingles(text: str, n: int = 3) -> frozenset:
    """Distinct lower-cased whitespace word n-grams (docs shorter than n
    keep one shingle of all their tokens)."""
    toks = text.lower().split()
    if not toks:
        return frozenset()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _mutate(rng: random.Random, tm: TextModel, toks: list[str], level: float) -> list[str]:
    """Replace single tokens until the 3-gram Jaccard with the original
    falls to ``level`` or just below."""
    out = list(toks)
    base = shingles(" ".join(toks))
    while jaccard(base, shingles(" ".join(out))) > level:
        out[rng.randrange(len(out))] = rng.choice(tm.vocab[200:])
    return out


def planted_pairs(families: list[list[str]], texts: dict[str, str],
                  threshold: float) -> set[tuple[str, str]]:
    """Pairs inside a spam family whose exact Jaccard meets ``threshold``
    — the pairs the near-duplicate stage must report."""
    out = set()
    for fam in families:
        sh = {rid: shingles(texts[rid]) for rid in fam}
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    out.add((min(a, b), max(a, b)))
    return out


# --- lakehouse batches -------------------------------------------------------


class LakehouseFeed:
    """Bronze review rows and the closed-loop writer's upsert batches.

    Each batch is half new review ids, half edits of reviews written
    before it, skewed towards the oldest (a few hot reviews take most
    edits). Rows are (review_id, business_id, stars, useful).
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 104_729 + 5)
        self.next_id = 0

    def _row(self, rid: int) -> tuple:
        rng = self.rng
        return (f"r{rid:08d}", f"b{rng.randrange(LAKEHOUSE_BUSINESSES):05d}",
                rng.randint(1, 5), rng.randrange(50))

    def initial(self, n: int) -> list[tuple]:
        rows = [self._row(self.next_id + i) for i in range(n)]
        self.next_id += n
        return rows

    def batch(self, n: int) -> list[tuple]:
        n_new = n // 2
        existing = self.next_id
        rows = [self._row(existing + i) for i in range(n_new)]
        self.next_id += n_new
        edited: set[int] = set()
        while len(edited) < n - n_new:
            edited.add(int(existing * (self.rng.random() ** 3)))
        rows.extend(self._row(rid) for rid in sorted(edited))
        return rows


LAKEHOUSE_SCHEMA = "review_id string, business_id string, stars int, useful int"
LAKEHOUSE_BUSINESSES = 400


# --- stream text -------------------------------------------------------------

_P = 2_147_483_647  # modulus of the per-token linear hashes
ID_LETTERS = 6  # 26**6 ≈ 3e8 distinct ids
MIN_TOKENS, MAX_TOKENS = 12, 24
STREAM_WORDS = POSITIVE + NEGATIVE + STOPWORDS + long_tail_vocab(600)


class StreamSpec:
    """Review text of the stream as a pure function of the rate source's
    ``value`` and the seed, written both as a Spark expression (what the
    engine receives) and in Python (what the checker replays).

    Integer arithmetic only, ``pmod(value * a + b, 2**31 - 1)`` per token,
    so both sides agree exactly. The first token spells ``value`` in
    letters (text cleaning strips digits), so the checker can recover
    each scored row's id.
    """

    def __init__(self, seed: int):
        rng = random.Random(seed * 31 + 7)
        self.coef = [(rng.randrange(1, _P), rng.randrange(_P))
                     for _ in range(MAX_TOKENS + 1)]

    def _sql(self, k: int) -> str:
        a, b = self.coef[k]
        return f"pmod(value * {a}L + {b}L, {_P}L)"

    def _py(self, k: int, value: int) -> int:
        a, b = self.coef[k]
        return (value * a + b) % _P

    def text_column(self):
        """Spark Column: the review text of the long column ``value``."""
        from pyspark.sql import functions as F

        n = len(STREAM_WORDS)
        words = F.array(*[F.lit(w) for w in STREAM_WORDS])
        picks = [F.element_at(words, (F.expr(self._sql(k)) % n + 1).cast("int"))
                 for k in range(MAX_TOKENS)]
        n_tok = (F.expr(self._sql(MAX_TOKENS)) % (MAX_TOKENS - MIN_TOKENS + 1)
                 + MIN_TOKENS).cast("int")
        return F.concat_ws(" ", _letters_sql("q", F.col("value")),
                           F.slice(F.array(*picks), 1, n_tok))

    def text(self, value: int) -> str:
        n_tok = self._py(MAX_TOKENS, value) % (MAX_TOKENS - MIN_TOKENS + 1) + MIN_TOKENS
        words = [STREAM_WORDS[self._py(k, value) % len(STREAM_WORDS)] for k in range(n_tok)]
        return " ".join([letters("q", value)] + words)


def letters(prefix: str, n: int) -> str:
    """``n`` spelled as ID_LETTERS base-26 letters after ``prefix``."""
    out = []
    for _ in range(ID_LETTERS):
        out.append(chr(97 + n % 26))
        n //= 26
    return prefix + "".join(reversed(out))


def _letters_sql(prefix: str, n_col):
    from pyspark.sql import functions as F

    chars = [
        F.chr(F.lit(97) + F.pmod(F.floor(n_col / F.lit(26 ** (ID_LETTERS - 1 - j))), F.lit(26)))
        for j in range(ID_LETTERS)
    ]
    return F.concat(F.lit(prefix), *chars)


def decode_letters_sql(token_col):
    """Spark Column: the number a ``letters()`` token spells."""
    from pyspark.sql import functions as F

    return sum(
        (F.ascii(F.substring(token_col, 2 + j, 1)) - 97).cast("long") * (26 ** (ID_LETTERS - 1 - j))
        for j in range(ID_LETTERS)
    )
