"""Seeded text corpus for the mr_corpus workload, with its expected answers.

The corpus follows the tokenization of the paper's two jobs (FIXTURES.md):
a token is a maximal run of Unicode letters, case-sensitive; everything
else separates tokens. The generator knows every token it emits, so it
writes the expected word counts and posting lists itself; no second
engine is needed to check the result.

Shape, chosen to resemble the reference corpus at a larger scale:
  - skewed file sizes (geometric over a 15x range);
  - a Zipf vocabulary with accented Latin, Greek and Cyrillic letters and
    capitalised variants (distinct tokens); word lengths follow the rank,
    so every seed gives about the same bytes and tokens;
  - separators made of spaces, newlines, punctuation, digits and
    apostrophes; one file starts with a U+FEFF byte-order mark;
  - some files are byte-identical copies of others, so posting lists
    name several files for the same text.

Standard library only.
"""
import collections
import os
import random

ASCII = "abcdefghijklmnopqrstuvwxyz"
LETTERS = ASCII * 4 + "éèêëàâäçîïôöùûüñøåæß" + "αβγδεζηθικλμνξοπρστυφχψω" + "абвгдежзийклмнопрстуфхцчшщыэюя"
# Separators: every character here is a non-letter. The BOM only ever
# appears at the start of one file.
SEPARATORS = [" "] * 40 + ["\n"] * 6 + [", ", ". ", "; ", " - ", "'", " 1984 ", "7", " (", ") ", '"', "! ", "\n\n"]
BOM = "\ufeff"
ASCII_HEAD = 256


def _vocabulary(rng, size):
    """Words by Zipf rank. A word's length depends on its rank only, and
    the ASCII_HEAD most frequent words are ASCII, so the corpus's size in
    bytes and tokens hardly moves with the seed. Every seventh rank is the
    capitalised form of the word before it: a distinct token."""
    words, seen = [], set()
    while len(words) < size:
        r = len(words)
        if r % 7 == 3 and words[-1][0] in ASCII:
            w = words[-1][0].upper() + words[-1][1:]
        else:
            alphabet = ASCII if r < ASCII_HEAD else LETTERS
            w = "".join(rng.choice(alphabet) for _ in range(2 + r * 7 % 9))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def generate(out_dir, seed, total_mb=6.0, files=17, duplicates=3, vocab=60000):
    """Write the corpus to out_dir; return (wc, ii, tokens, bytes).

    wc maps word -> count; ii maps word -> sorted list of file names.
    """
    rng = random.Random(seed)
    words = _vocabulary(rng, vocab)
    weights = [1.0 / (r + 1) ** 1.07 for r in range(len(words))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    # The same skewed sizes for every seed (the largest file bounds the
    # makespan of the one-task-per-file scan); the seed picks which file
    # gets which size and all of the text.
    sizes = [15 ** (i / (files - 1)) for i in range(files)]
    rng.shuffle(sizes)
    scale = total_mb * 1e6 / sum(sizes)
    os.makedirs(out_dir, exist_ok=True)
    wc = collections.Counter()
    posting = collections.defaultdict(set)
    per_file = {}
    total_tokens = total_bytes = 0
    bom_file = rng.randrange(files)
    for i, s in enumerate(sizes):
        name = f"part{i:02d}.txt"
        target = int(s * scale)
        n = max(1, target // 7)
        toks = rng.choices(words, cum_weights=cum, k=n)
        seps = rng.choices(SEPARATORS, k=n)
        text = "".join(t + p for t, p in zip(toks, seps))
        if i == bom_file:
            text = BOM + text
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        per_file[name] = (collections.Counter(toks), data)
    # Copy files of fixed size ranks, so the total does not move with the seed.
    by_size = sorted(per_file, key=lambda n: len(per_file[n][1]))
    for d in range(duplicates):
        src = by_size[(2 * d + 1) * len(by_size) // (2 * duplicates)]
        name = f"copy{d:02d}_of_{src}"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(per_file[src][1])
        per_file[name] = per_file[src]
    for name, (counts, data) in per_file.items():
        wc.update(counts)
        for w in counts:
            posting[w].add(name)
        total_tokens += sum(counts.values())
        total_bytes += len(data)
    ii = {w: sorted(fs) for w, fs in posting.items()}
    return dict(wc), ii, total_tokens, total_bytes


def read_sink(path):
    """Read a TextJobs.sinkText directory into {key: value} (line order kept)."""
    rows = {}
    order = []
    for part in sorted(os.listdir(path)):
        if not part.startswith("part-"):
            continue
        with open(os.path.join(path, part), encoding="utf-8") as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition(": ")
                rows[key] = value
                order.append(key)
    return rows, order


def check_wc(rows, order, wc):
    """Return None when the wc sink output equals the expected counts, else why not."""
    if order != sorted(order):
        return "output not sorted by word"
    if len(rows) != len(wc):
        return f"{len(rows)} words in output, {len(wc)} expected"
    for w, n in wc.items():
        if rows.get(w) != str(n):
            return f"word {w!r}: got {rows.get(w)!r}, expected {n}"
    return None


def check_ii(rows, order, ii):
    """Return None when the ii sink output equals the expected posting lists, else why not."""
    if order != sorted(order):
        return "output not sorted by word"
    if len(rows) != len(ii):
        return f"{len(rows)} words in output, {len(ii)} expected"
    for w, fs in ii.items():
        want = f"{len(fs)} {','.join(fs)}"
        if rows.get(w) != want:
            return f"word {w!r}: got {rows.get(w)!r}, expected {want!r}"
    return None
