"""Pretrained BPE merge table + corpus-wide apply (VERDICT r5 #1).

The round-5 BPE lanes train and apply ``_BPE_ROUNDS = 3`` merges — a
correctness-shaped toy. Real tokenizers ship a PRETRAINED table of
10^3-10^5 merges and the apply pass is the single hottest operator in
a training-data pipeline. This module provides the production shape:

- :func:`pretrained_merges` — a deterministic >=1024-entry merge table
  trained (classic Sennrich 2016 counting, pure Python, incremental
  pair-count maintenance) on a fixed synthetic English-morphology seed
  corpus embedded below. Training is driver-side and cached per
  process; at fleet scale the table is a distributed artifact loaded
  once — what matters is that the APPLY path below never depends on
  table size linearly per token.
- :func:`bpe_apply_lowest_rank` — the per-word apply used by real
  tokenizers (GPT-2 ``bpe()``): repeatedly merge the lowest-ranked
  pair present. Per-word cost is O(len^2) in the worst case and
  INDEPENDENT of merge-table size — the property that makes 50k-merge
  production tables affordable.
- :func:`bpe_apply_in_order` — the SQL-expressible equivalent: one
  greedy-leftmost replace-all pass per merge, in rank order, over the
  boundary-safe ``|x||y|`` encoding (the same encoding as the trained
  lanes in queries/sketch_ops.py). The DuckDB oracle runs exactly this
  via ``list_reduce`` over the literal pattern list.

Equivalence (why one in-order pass == lowest-rank-first, so the oracle
is exact): merges only CONCATENATE adjacent tokens, so a new adjacency
always involves the token the merge just created; any merge consuming
that token was learned later (the component had to exist during
training) and therefore has a higher rank. Hence when the in-order
pass reaches rank r, no lower-ranked pair can ever reappear. The one
loophole is surface-string collisions (two merge paths producing equal
strings would alias pairs compared as strings), which training closes
by skipping candidate pairs whose concatenation is already a vocab
string — the same unique-vocab invariant real tokenizers enforce via
their string->id vocab map. tests/test_corpus_ops.py pins the
equivalence on the live corpus vocabulary and on randomized words.

Reference for semantics parity: the trained-table lanes at
queries/sketch_ops.py (text_bpe_train / text_bpe_apply); reference
repo has no tokenizer surface (uts.ts is a time-series store) — this
is part of the LLM-pipeline operator set the build brief adds.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from functools import lru_cache

_N_MERGES = 1024

# Seed corpus: common-English stems x derivational/inflectional
# suffixes, Zipf-weighted. Naive concatenation yields some non-words —
# irrelevant: the table only needs realistic ENGLISH CHARACTER
# STATISTICS so merge priorities conflict the way a real table's do.
_STEMS = (
    "the and that have with this from they would there their what about "
    "which when make like time just know take people into year your good "
    "some could them other than then look only come over think also back "
    "after work first well even want because these give most table value "
    "order stream window filter group merge batch query scan sort hash "
    "join column row line part key data small big fast slow spark vector "
    "customer supplier nation region price total count system process "
    "state result number record market share power water light paper "
    "house point world school family student question govern interest "
    "develop present company program problem service friend father "
    "mother business country"
).split()
_SUFFIXES = (
    "", "s", "ed", "ing", "er", "ers", "est", "ly", "ment", "ness",
    "tion", "able", "ion", "al", "ity", "ize", "ized", "ful", "less",
    "ish",
)


def _seed_words() -> list[tuple[str, int]]:
    """Deterministic (word, freq) seed corpus, Zipf-weighted by
    enumeration order (stem-major), suffixed forms rarer than stems."""
    out: list[tuple[str, int]] = []
    rank = 0
    for stem in _STEMS:
        for j, suf in enumerate(_SUFFIXES):
            rank += 1
            freq = max(1, 6000 // (rank + 10 * j))
            out.append((stem + suf, freq))
    return out


def _merge_seg(seg: tuple[str, ...], x: str, y: str) -> tuple[str, ...]:
    """Greedy-leftmost merge of ALL (x, y) adjacencies — the scan order
    string replace implements, shared by both apply variants."""
    out: list[str] = []
    i = 0
    n = len(seg)
    while i < n:
        if i + 1 < n and seg[i] == x and seg[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(seg[i])
            i += 1
    return tuple(out)


def _train_merges(
    words: list[tuple[tuple[str, ...], int]],
    n_merges: int,
    base_vocab: tuple[str, ...] = (),
    allow_short: bool = False,
) -> tuple[tuple[str, str], ...]:
    """Shared trainer: classic frequency-greedy BPE with the repo's
    deterministic tie-break (freq desc, x asc, y asc), incremental
    pair-count maintenance (only words containing the merged pair are
    touched), and the unique-vocab-string skip documented in the module
    docstring. ``base_vocab`` seeds extra symbols into the collision
    set (the byte lane passes all 256 hex pairs so a merge output can
    never alias a base symbol absent from the seed corpus)."""
    words = list(words)
    counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> word indexes (may go stale)
    for wi, (seg, freq) in enumerate(words):
        for pair in zip(seg, seg[1:]):
            counts[pair] += freq
            where[pair].add(wi)

    vocab = {c for seg, _ in words for c in seg} | set(base_vocab)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and counts:
        best = min(
            (p for p in counts if p[0] + p[1] not in vocab),
            key=lambda p: (-counts[p], p),
            default=None,
        )
        if best is None:
            break
        x, y = best
        merges.append(best)
        vocab.add(x + y)
        for wi in list(where[best]):
            seg, freq = words[wi]
            if best not in zip(seg, seg[1:]):  # stale index entry
                where[best].discard(wi)
                continue
            for pair in zip(seg, seg[1:]):
                counts[pair] -= freq
                if counts[pair] <= 0:
                    del counts[pair]
            new = _merge_seg(seg, x, y)
            words[wi] = (new, freq)
            for pair in zip(new, new[1:]):
                counts[pair] += freq
                where[pair].add(wi)
        counts.pop(best, None)
    if len(merges) < n_merges and not allow_short:
        raise AssertionError(
            f"seed corpus exhausted at {len(merges)} merges; enlarge the seed"
        )
    return tuple(merges)


@lru_cache(maxsize=1)
def pretrained_merges() -> tuple[tuple[str, str], ...]:
    """The 1024-merge character-level table, trained once per process
    on the fixed seed corpus (trainer: :func:`_train_merges`)."""
    return _train_merges(
        [(tuple(w), f) for w, f in _seed_words()], _N_MERGES
    )


@lru_cache(maxsize=1)
def pretrained_vocab_ids() -> dict[str, int]:
    """token string -> 1-based id: the 26 base letters first (the apply
    corpus is [a-z]+ words, so every base symbol must have an id even
    if absent from the seed corpus), then merge outputs in rank order.
    Unique by the training-time skip, so the mapping is a bijection."""
    ids: dict[str, int] = {}
    for c in "abcdefghijklmnopqrstuvwxyz":
        ids[c] = len(ids) + 1
    for x, y in pretrained_merges():
        tok = x + y
        assert tok not in ids, tok
        ids[tok] = len(ids) + 1
    return ids


@lru_cache(maxsize=1)
def _rank_table() -> dict[tuple[str, str], int]:
    return {p: r for r, p in enumerate(pretrained_merges())}


def _apply_lowest_rank_seg(seg: tuple[str, ...], ranks: dict) -> list[str]:
    """Shared merge loop: repeatedly merge the lowest-ranked pair
    present, greedy-leftmost. Cost independent of merge-table size."""
    while len(seg) > 1:
        best = None
        best_rank = None
        for pair in set(zip(seg, seg[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            break
        seg = _merge_seg(seg, best[0], best[1])
    return list(seg)


def bpe_apply_lowest_rank(word: str, ranks: dict | None = None) -> list[str]:
    """Production apply (GPT-2 ``bpe()`` shape) over character symbols."""
    if ranks is None:
        ranks = _rank_table()
    return _apply_lowest_rank_seg(tuple(word), ranks)


# --- Integer-id merge kernel (optimization r12, VERDICT r11 #4) --------------
#
# The per-distinct-pretoken merge loop was the measured wall of the
# apply lanes: the string kernel rebuilds a set of (str, str) tuples
# and concatenates strings on every merge iteration. The hot path now
# runs on the table's own 1-based VOCAB IDS — base symbols 1..B, merge
# outputs B+1.. in rank order, exactly the id space the lanes already
# sum over — with the merge table precompiled to ONE flat dict keyed
# by the packed int (id_x << 11 | id_y). Consequences:
#   - a byte-level segment seeds as [byte + 1 for byte in utf8] (no
#     hex-pair strings at all), a char-level [a-z] word as
#     [ord(c) - 96];
#   - each merge iteration is int compares + one dict probe per
#     adjacency — no tuple/set/string allocation;
#   - n_tok = len(seg) and idsum = sum(seg) directly (the final ids
#     ARE the vocab ids), so the apply lanes never materialize token
#     strings; the roundtrip lane maps ids back via int_id_syms.
# Tables are precompiled once per process per merge table (lru_cache —
# this module is importable on executors, so a reused worker keeps
# them across tasks, guide §4.5) and the result is provably the same
# merge sequence: ids are bijective with symbol strings
# (unique-vocab invariant), so pair ranks, greedy-leftmost scans and
# termination are identical step for step.
# tests/test_corpus_ops.py pins int-kernel == string-kernel on the
# live corpus and randomized inputs.

_ID_BITS = 11  # packed-key shift: vocab ids must stay < 2^11


def ids_for(merges: tuple, base: tuple) -> dict[str, int]:
    """The standard 1-based vocab-id construction shared by every
    table here: base symbols first, merge outputs in rank order.
    A merge output already in the vocab would alias two ids (the
    unique-vocab invariant, module docstring), so it raises."""
    ids = {s: i + 1 for i, s in enumerate(base)}
    for x, y in merges:
        if x + y in ids:
            raise ValueError(
                f"merge {x!r} + {y!r} outputs {x + y!r}, already in the vocab"
            )
        ids[x + y] = len(ids) + 1
    return ids


@lru_cache(maxsize=8)
def int_pair_table(merges: tuple, base: tuple) -> dict:
    """(id_x << 11 | id_y) -> (rank, id_xy) over the standard vocab
    ids — the flat lookup table the int merge loop probes."""
    ids = ids_for(merges, base)
    if len(ids) >= (1 << _ID_BITS):
        raise ValueError(
            f"vocab of {len(ids)} ids overflows the {_ID_BITS}-bit "
            "packed pair key — widen _ID_BITS for larger tables"
        )
    return {
        (ids[x] << _ID_BITS) | ids[y]: (r, ids[x + y])
        for r, (x, y) in enumerate(merges)
    }


@lru_cache(maxsize=8)
def int_id_syms(merges: tuple, base: tuple) -> tuple[str, ...]:
    """id -> symbol string (index id-1), for callers that need the
    token surface back (the roundtrip lane's hex join)."""
    ids = ids_for(merges, base)
    out = [None] * len(ids)
    for s, i in ids.items():
        out[i - 1] = s
    return tuple(out)


def apply_int_ids(seg: list, pair: dict) -> list:
    """Lowest-rank-first greedy-leftmost merge loop over int vocab ids
    — step-for-step the sequence :func:`_apply_lowest_rank_seg` runs
    on symbol strings (same best-pair choice: ranks are unique per
    pair, so position order never matters; same merge scan)."""
    while len(seg) > 1:
        best = None
        bk = 0
        prev = seg[0]
        for i in range(1, len(seg)):
            cur = seg[i]
            k = (prev << _ID_BITS) | cur
            pr = pair.get(k)
            if pr is not None and (best is None or pr < best):
                best = pr
                bk = k
            prev = cur
        if best is None:
            return seg
        mid = best[1]
        bx, by = bk >> _ID_BITS, bk & ((1 << _ID_BITS) - 1)
        out = []
        i = 0
        n = len(seg)
        while i < n:
            if i + 1 < n and seg[i] == bx and seg[i + 1] == by:
                out.append(mid)
                i += 2
            else:
                out.append(seg[i])
                i += 1
        seg = out
    return seg


_CHAR_BASE = tuple("abcdefghijklmnopqrstuvwxyz")


def bpe_apply_in_order(word: str, merges=None) -> list[str]:
    """Oracle-shaped apply: one greedy-leftmost pass per merge, in rank
    order — provably equal to :func:`bpe_apply_lowest_rank` for tables
    with the unique-vocab invariant (module docstring)."""
    if merges is None:
        merges = pretrained_merges()
    seg = tuple(word)
    for x, y in merges:
        if len(seg) == 1:
            break
        seg = _merge_seg(seg, x, y)
    return list(seg)


def merge_patterns_sql() -> str:
    """The merge table as a DuckDB list literal of boundary-safe
    patterns ``'|x||y|'`` in rank order — the oracle applies them with
    ``list_reduce(..., (acc, p) -> replace(acc, p, replace(p, '||', '')))``."""
    pats = ", ".join(f"'|{x}||{y}|'" for x, y in pretrained_merges())
    return f"[{pats}]"


def vocab_values_sql() -> str:
    """The vocabulary as a DuckDB VALUES table ``(tok, tid)``."""
    rows = ", ".join(f"('{t}', {i})" for t, i in pretrained_vocab_ids().items())
    return f"(VALUES {rows})"


# --- Byte-level pretrained BPE (VERDICT r6 #1) -------------------------------
#
# The character-level table above merges [a-z]+ letter runs — it cannot
# tokenize punctuation, digits, casing, or multi-byte UTF-8, i.e. any
# real corpus. Production tokenizers (GPT-2 and descendants) are
# BYTE-level: the unit symbol is the UTF-8 byte, the pre-tokenizer
# splits text into space-prefixed word/number/punctuation pieces, and
# merges act on byte sequences — every string tokenizes, no OOV.
#
# Symbol representation: each byte is the 2-char lowercase hex pair
# ("20", "74", ...) rather than GPT-2's printable-unicode remap — hex
# is equally bijective, sorts deterministically, and (decisively here)
# is computable in BOTH engines: Python bytes.hex() and DuckDB
# lower(hex(encode(s))). Merged tokens concatenate whole pairs, so a
# token's hex string uniquely determines its byte sequence and the
# boundary-safe |x||y| replace encoding needs no escaping even for
# pre-tokens containing '|' or quotes.
#
# The in-order == lowest-rank-first equivalence argument from the
# module docstring carries over verbatim (symbols are hex pairs instead
# of characters; the unique-vocab skip closes the same surface-string
# loophole), so the DuckDB list_reduce oracle stays exact.

_N_BYTE_MERGES = 512

# Deterministic pre-token seed: space-prefixed stems dominate (the
# GPT-2 convention — mid-sentence words carry their leading space),
# bare and capitalized forms rarer, plus punctuation, contractions,
# digits, and multi-byte UTF-8 samples with fixed weights.
_BYTE_EXTRAS: tuple[tuple[str, int], ...] = (
    (",", 3000), (".", 2800), ("!", 500), ("?", 400), (";", 300),
    (":", 350), (" —", 380), ("—", 120), ("...", 150), ("“", 200),
    (" “", 220), ("”", 200), ("(", 180), (" (", 190), (")", 180),
    ("-", 250), ("%", 220), ("€", 160), ("№", 120), ("#", 90),
    ("/", 110), ("'s", 700), ("'t", 500), ("'re", 250), ("'ll", 180),
    ("'ve", 170), ("'m", 160), ("'d", 120),
    (" café", 150), (" naïve", 130), (" Naïve", 60),
    (" 東京", 110), (" über", 100), (" señor", 90),
    (" Zürich", 80), (" résumé", 85), ("é", 60),
    ("ü", 50), (" 42", 300), ("42", 150), (" 2024", 140), ("9", 120),
    (".99", 130), (" 1", 260), ("0", 200), (" 9", 110), (" 7", 100),
)


def _hex_seg(s: str) -> tuple[str, ...]:
    b = s.encode("utf-8")
    return tuple(b[i : i + 1].hex() for i in range(len(b)))


def _byte_seed_words() -> list[tuple[str, int]]:
    out: list[tuple[str, int]] = []
    rank = 0
    for stem in _STEMS:
        for j, suf in enumerate(_SUFFIXES):
            rank += 1
            freq = max(1, 6000 // (rank + 10 * j))
            out.append((" " + stem + suf, freq))
            out.append((stem + suf, max(1, freq // 4)))
        out.append((" " + stem.capitalize(), max(1, 1000 // rank + 3)))
    out.extend(_BYTE_EXTRAS)
    return out


_ALL_BYTES = tuple(bytes([i]).hex() for i in range(256))


@lru_cache(maxsize=1)
def pretrained_byte_merges() -> tuple[tuple[str, str], ...]:
    """The 512-merge byte-level table: same trainer, hex-pair symbols,
    all 256 base bytes pre-seeded into the collision vocab."""
    return _train_merges(
        [(_hex_seg(w), f) for w, f in _byte_seed_words()],
        _N_BYTE_MERGES,
        base_vocab=_ALL_BYTES,
    )


@lru_cache(maxsize=1)
def pretrained_byte_vocab_ids() -> dict[str, int]:
    """token hex-string -> 1-based id: the 256 base bytes first (ids
    1..256 — EVERY byte has an id, so arbitrary input never goes OOV),
    then merge outputs in rank order (257..). Bijective by the
    training-time unique-vocab skip."""
    ids: dict[str, int] = {h: i + 1 for i, h in enumerate(_ALL_BYTES)}
    for x, y in pretrained_byte_merges():
        tok = x + y
        assert tok not in ids, tok
        ids[tok] = len(ids) + 1
    return ids


@lru_cache(maxsize=1)
def _byte_rank_table() -> dict[tuple[str, str], int]:
    return {p: r for r, p in enumerate(pretrained_byte_merges())}


def bpe_apply_bytes(pretoken: str, ranks: dict | None = None) -> list[str]:
    """Byte-level production apply: UTF-8 encode, hex-pair symbols,
    lowest-rank-first merges. Returns the token list as hex strings."""
    if ranks is None:
        ranks = _byte_rank_table()
    return _apply_lowest_rank_seg(_hex_seg(pretoken), ranks)


def bpe_apply_bytes_in_order(pretoken: str, merges=None) -> list[str]:
    """Oracle-shaped byte-level apply (one greedy-leftmost pass per
    merge in rank order) — equal to :func:`bpe_apply_bytes` by the
    unique-vocab equivalence; pinned in tests/test_corpus_ops.py."""
    if merges is None:
        merges = pretrained_byte_merges()
    seg = _hex_seg(pretoken)
    for x, y in merges:
        if len(seg) == 1:
            break
        seg = _merge_seg(seg, x, y)
    return list(seg)


_ASCII_WS = frozenset(" \t\n\x0b\f\r")
_CONTRACTIONS = ("s", "t", "re", "ve", "m", "ll", "d")


def pretokenize(text: str) -> list[str]:
    """Python mirror of the GPT-2-style pre-tokenizer regex used by the
    batch byte lane (queries/sketch_ops._PRETOK_RE) — needed because
    Python stdlib ``re`` has no ``\\p{L}``/``\\p{N}`` classes, and the
    STREAMING byte-tokenization kernel runs in Python. Alternation
    order and greediness replicate the regex exactly:

        '(?:s|t|re|ve|m|ll|d) | ?L+ | ?N+ | ?[^\\s L N]+ | \\s+

    with L/N = Unicode general categories (unicodedata.category — the
    same data Java/RE2 ``\\p{L}``/``\\p{N}`` read) and \\s = ASCII
    whitespace (both engines' default). Leftmost-first: a punctuation
    run swallows an interior apostrophe (so the contraction branch only
    fires at a fresh position), multi-space runs stay one whitespace
    token. Parity vs the Spark-side regex split is pinned on the live
    corpus and randomized strings in tests/test_corpus_ops.py."""
    import unicodedata

    cat = unicodedata.category
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":
            for suf in _CONTRACTIONS:
                if text.startswith(suf, i + 1):
                    out.append(text[i : i + 1 + len(suf)])
                    i += 1 + len(suf)
                    break
            else:
                k = i
                while (
                    k < n
                    and text[k] not in _ASCII_WS
                    and cat(text[k])[0] not in "LN"
                ):
                    k += 1
                out.append(text[i:k])
                i = k
            continue
        j = i + 1 if text[i] == " " else i
        if j < n and cat(text[j])[0] == "L":
            k = j
            while k < n and cat(text[k])[0] == "L":
                k += 1
            out.append(text[i:k])
            i = k
            continue
        if j < n and cat(text[j])[0] == "N":
            k = j
            while k < n and cat(text[k])[0] == "N":
                k += 1
            out.append(text[i:k])
            i = k
            continue
        if (
            j < n
            and text[j] not in _ASCII_WS
            and cat(text[j])[0] not in "LN"
        ):
            k = j
            while (
                k < n
                and text[k] not in _ASCII_WS
                and cat(text[k])[0] not in "LN"
            ):
                k += 1
            out.append(text[i:k])
            i = k
            continue
        k = i
        while k < n and text[k] in _ASCII_WS:
            k += 1
        out.append(text[i:k])
        i = k
    return out


# --- Mix-trained byte merges (VERDICT r8 #2) ---------------------------------
#
# The 512-merge table above is trained on ENGLISH seed text; the
# fertility lane (queries/unicode_ops.text_bpe_fertility_by_lang)
# measures the damage on a multilingual corpus: zh at 7.16
# tokens/pre-token vs en 1.53 — a ~4.7x token-budget tax every
# downstream shard/mix computation inherits. This trainer takes the LANGUAGE
# MIX itself as the seed: weighted sample texts per language,
# pre-tokenized with the SAME GPT-2-style pre-tokenizer the apply path
# uses, hex-pair symbols, same deterministic trainer. The caller (the
# unicode_ops lanes) supplies the samples so the training corpus and
# the evaluation corpus stay one source of truth.

@lru_cache(maxsize=8)
def mix_trained_byte_merges(
    samples: tuple, n_merges: int = _N_BYTE_MERGES
) -> tuple[tuple[str, str], ...]:
    """Train a byte-level merge table on a weighted multilingual sample
    (``samples`` = tuple of (text, weight)): each text splits into
    GPT-2-style pre-tokens via :func:`pretokenize`, pre-token
    frequencies accumulate weighted, and the shared trainer runs with
    the 256-byte base vocab. Deterministic and cached per sample set.
    Unlike the shipped table, EXHAUSTING the sample's pair supply
    before ``n_merges`` is legal here (a small mix sample has a finite
    merge budget) — the table is simply shorter."""
    counts: Counter = Counter()
    for text, weight in samples:
        for pt in pretokenize(text):
            counts[pt] += weight
    words = [(_hex_seg(w), f) for w, f in sorted(counts.items())]
    return _train_merges(
        words, n_merges, base_vocab=_ALL_BYTES, allow_short=True
    )


def merges_to_patterns_sql(merges) -> str:
    """Any merge table as a DuckDB list literal of boundary-safe
    ``'|x||y|'`` patterns in rank order (hex symbols — no quoting
    hazards)."""
    pats = ", ".join(f"'|{x}||{y}|'" for x, y in merges)
    return f"[{pats}]"


def byte_merge_patterns_sql() -> str:
    """Byte merge table as a DuckDB list literal of boundary-safe
    ``'|x||y|'`` hex patterns in rank order."""
    return merges_to_patterns_sql(pretrained_byte_merges())


def byte_vocab_values_sql() -> str:
    """Byte vocabulary as a DuckDB VALUES table ``(tok, tid)`` — hex
    token strings, so no quoting hazards."""
    rows = ", ".join(
        f"('{t}', {i})" for t, i in pretrained_byte_vocab_ids().items()
    )
    return f"(VALUES {rows})"
