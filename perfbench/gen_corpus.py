"""Seeded text corpus for the `mr_corpus` workload.

Eight files whose sizes keep the ratios of the MapReduce lab's eight-book
corpus (139-594 KB), multiplied by `scale`.  Tokens are drawn from a Zipf
vocabulary of mixed-case words, short words the most frequent, a share of
them with non-ASCII letters (accented Latin, Greek, Cyrillic) so the
`Character.isLetter` tokenizer sees more than ASCII.  Separators mix
spaces, punctuation, digits and newlines, all of which the tokenizer treats
as non-letters.

The same (seed, scale) always gives the same bytes.
"""
import os

import numpy as np

# byte sizes of the lab's eight input books, in file order
BOOK_BYTES = [138_885, 453_168, 441_033, 540_174, 594_262, 139_054, 581_863, 412_665]
VOCAB_SIZE = 20_000
ZIPF_S = 1.07
ASCII = "abcdefghijklmnopqrstuvwxyz"
EXTRA = "éèêàâçîïôûüöäßñåøæœαβγδεζηθλμπστωжзийклмнпрстуфыэюя"
SEPARATORS = [" "] * 14 + [", ", ". ", "; ", " -- ", "\n", "\n\n", " 1984 ", "'s "]


def vocabulary(rng):
    """Words by Zipf rank. Length, script and capitalisation follow from
    the rank alone, so every seed gives the same token count per byte and
    the same work per file; the seed draws only the letters."""
    shape = np.random.default_rng(0)
    words, seen = [], set()
    for r in range(VOCAB_SIZE):
        n = 1 if r < 8 else 2 if r < 80 else 3 if r < 600 else int(shape.integers(4, 11))
        extra = shape.random() < 0.15
        upper = shape.random() < 0.2
        mixed = [j == 0 or shape.random() < 0.33 for j in range(n)]
        while True:
            w = "".join(EXTRA[int(rng.integers(0, len(EXTRA)))] if extra and m
                        else ASCII[int(rng.integers(0, len(ASCII)))] for m in mixed)
            if upper:
                w = w[0].upper() + w[1:]
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return words


def corpus(seed, scale):
    """Returns [(file_name, text)], deterministic in (seed, scale)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p /= p.sum()
    files = []
    for i, size in enumerate(BOOK_BYTES):
        target = int(size * scale)
        parts, n = [], 0
        while n < target:
            ranks = rng.choice(VOCAB_SIZE, 4096, p=p)
            seps = rng.integers(0, len(SEPARATORS), 4096)
            chunk = "".join(vocab[r] + SEPARATORS[s] for r, s in zip(ranks, seps))
            parts.append(chunk)
            n += len(chunk.encode("utf-8"))
        text = "".join(parts)
        data = text.encode("utf-8")[:target].decode("utf-8", errors="ignore")
        files.append((f"book-{i + 1}.txt", data))
    return files


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, text in corpus(seed, scale):
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(text)
        paths.append(path)
    return paths
