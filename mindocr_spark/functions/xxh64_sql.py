"""DuckDB-SQL code generator for Spark's ``xxhash64``.

Spark's ``F.xxhash64(...)`` is standard XXH64 with seed chaining: the
running hash starts at 42 and each argument's hash (``hashInt`` for
IntegerType, ``hashLong`` for LongType, byte-stream XXH64 for strings)
seeds the next.  Verified empirically against Spark 4.1 on string lengths
0-37 (word / 4-byte-chunk / tail-byte / >=32-block paths), int literals
and chained longs — the Python reference below matched on every probe.

DuckDB has no xxhash64, and the grading driver executes oracle SQL as ONE
statement (no macros), so this module *generates* the hash as inline SQL.
The fold is emitted as LAYERED NESTED SUBQUERIES (``SELECT *, step AS
name FROM (...)``), one layer per dependency depth: DuckDB's binder
inlines same-SELECT lateral aliases by textual substitution, so a
60-step chain where each step references its predecessor twice explodes
exponentially (measured: depth 10 binds in 0.3 s, depth 20 never
returns), while 120 nested projections bind in ~10 ms.  All arithmetic
runs in HUGEINT (128-bit) with explicit mod-2^64 wraps; 64x64-bit
products are split into 32-bit halves because a full product can exceed
HUGEINT's 2^127-1 range.

Only the ``len < 32`` byte path is generated (no 4-accumulator stripe
loop): every hashed token/shingle in this engine is a word n-gram over
the 2-7-char generator vocabulary (max 26 bytes, ASCII).  The supported
bound is 8*max_words + 7 bytes; ``tests/test_xxh64_sql.py`` asserts the
corpus stays inside it and that every generated shape equals both the
Python reference and Spark itself.
"""

from __future__ import annotations

M32 = 1 << 32
M64 = 1 << 64
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SPARK_SEED = 42


# --- Python reference (matches Spark bit-for-bit; used for the per-
# permutation seed constants and by the equivalence tests) ----------------

def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & (M64 - 1)


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & (M64 - 1)
    h ^= h >> 29
    h = (h * P3) & (M64 - 1)
    h ^= h >> 32
    return h


def xxh64_int_py(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of a 4-byte int (Spark IntegerType child). Unsigned result."""
    h = (seed + P5 + 4) & (M64 - 1)
    h ^= ((v & 0xFFFFFFFF) * P1) & (M64 - 1)
    h = (_rotl(h, 23) * P2 + P3) & (M64 - 1)
    return _fmix(h)


def xxh64_long_py(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of an 8-byte long (Spark LongType child). Unsigned result."""
    h = (seed + P5 + 8) & (M64 - 1)
    k = (_rotl((v & (M64 - 1)) * P2 & (M64 - 1), 31) * P1) & (M64 - 1)
    h ^= k
    h = (_rotl(h, 27) * P1 + P4) & (M64 - 1)
    return _fmix(h)


def xxh64_bytes_py(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of a byte string, len < 32 only (the generated-SQL domain)."""
    n = len(data)
    assert n < 32, "generated-SQL domain is len < 32"
    h = (seed + P5 + n) & (M64 - 1)
    off = 0
    while off + 8 <= n:
        w = int.from_bytes(data[off : off + 8], "little")
        k = (_rotl((w * P2) & (M64 - 1), 31) * P1) & (M64 - 1)
        h ^= k
        h = (_rotl(h, 27) * P1 + P4) & (M64 - 1)
        off += 8
    if off + 4 <= n:
        w = int.from_bytes(data[off : off + 4], "little")
        h ^= (w * P1) & (M64 - 1)
        h = (_rotl(h, 23) * P2 + P3) & (M64 - 1)
        off += 4
    while off < n:
        h ^= (data[off] * P5) & (M64 - 1)
        h = (_rotl(h, 11) * P1) & (M64 - 1)
        off += 1
    return _fmix(h)


def to_signed(h: int) -> int:
    """Unsigned 64-bit -> Spark's signed long."""
    return h - M64 if h >= (1 << 63) else h


# --- SQL fold builder ----------------------------------------------------

class SqlFold:
    """Emits HUGEINT fold steps as layered nested subqueries.

    Each generated column is assigned a layer = 1 + max(layer of the
    generated columns it references); ``render`` wraps the base relation
    in one ``SELECT *, <layer cols>`` per layer, so no SELECT ever
    laterally references an alias from its own select-list (the
    exponential-substitution trap described in the module docstring).
    """

    def __init__(self, prefix: str):
        self.prefix = prefix
        self._layer_of: dict[str, int] = {}
        self.layers: list[list[str]] = []
        self._n = 0
        self._dep_re = __import__("re").compile(rf"\b{prefix}\d+\b")

    def col(self, expr: str) -> str:
        name = f"{self.prefix}{self._n}"
        self._n += 1
        deps = self._dep_re.findall(expr)
        layer = max((self._layer_of[d] + 1 for d in set(deps)), default=0)
        while len(self.layers) <= layer:
            self.layers.append([])
        self.layers[layer].append(f"{expr} AS {name}")
        self._layer_of[name] = layer
        return name

    def render(self, base_sql: str, keep: list[str] | None = None) -> str:
        """Wrap ``base_sql`` (a full SELECT) in the layered projections;
        ``keep`` optionally prunes the outermost select-list."""
        sql = base_sql
        for layer in self.layers:
            sql = f"SELECT *, {', '.join(layer)} FROM ({sql})"
        if keep is not None:
            sql = f"SELECT {', '.join(keep)} FROM ({sql})"
        return sql

    # x must be a plain column name (referenced multiple times).
    # All power-of-2 mod/div are emitted as & / >>: DuckDB's HUGEINT
    # division is ~20x slower than its bitwise AND (measured 0.25s vs
    # 0.01s per 2M rows), and the fold is division-dominated otherwise.
    def mulmod(self, x: str, c: int) -> str:
        """(x * c) mod 2^64 via 32-bit split (x, c both may be >= 2^32)."""
        cl, ch = c % M32, c >> 32
        lo = self.col(f"{x} & {M32 - 1}")
        hi = self.col(f"{x} >> 32")
        return self.col(
            f"({lo} * {cl} + ((({lo} * {ch} + {hi} * {cl}) & {M32 - 1}) << 32))"
            f" & {M64 - 1}"
        )

    def rotl(self, x: str, r: int) -> str:
        return self.col(
            f"(({x} & {(1 << (64 - r)) - 1}) << {r}) + ({x} >> {64 - r})"
        )

    def xor(self, a: str, b: str) -> str:
        return self.col(f"xor({a}, {b})")

    def addmod(self, x: str, c: int) -> str:
        return self.col(f"({x} + {c}) & {M64 - 1}")

    def fmix(self, h: str) -> str:
        h = self.col(f"xor({h}, {h} >> 33)")
        h = self.mulmod(h, P2)
        h = self.col(f"xor({h}, {h} >> 29)")
        h = self.mulmod(h, P3)
        return self.col(f"xor({h}, {h} >> 32)")

    def round64(self, w: str) -> str:
        """k = rotl(w * P2, 31) * P1 — the seed-independent word round."""
        t = self.mulmod(w, P2)
        t = self.rotl(t, 31)
        return self.mulmod(t, P1)

    def unsign(self, x: str) -> str:
        """Signed BIGINT column -> unsigned HUGEINT bit pattern."""
        return self.col(
            f"(CASE WHEN {x} < 0 THEN {x}::HUGEINT + {M64} "
            f"ELSE {x}::HUGEINT END)"
        )

    def sign(self, x: str) -> str:
        """Unsigned HUGEINT -> signed BIGINT (Spark long)."""
        return self.col(
            f"(CASE WHEN {x} >= {1 << 63} THEN {x} - {M64} "
            f"ELSE {x} END)::BIGINT"
        )


def prep_cols(fold: SqlFold, str_col: str, max_words: int = 3) -> dict:
    """Seed-independent per-string decomposition: length, little-endian
    8-byte words' round() values, the 4-byte chunk and tail-byte addends.
    Returns the column names the per-seed fold consumes."""
    mw = max_words
    zeros = ", ".join(["0::HUGEINT"] * (8 * mw + 8))
    bs = fold.col(
        f"[unicode({str_col}[i])::HUGEINT "
        f"for i in range(1, strlen({str_col}) + 1)]"
    )
    bp = fold.col(f"list_concat({bs}, [{zeros}])")
    ln = fold.col(f"strlen({str_col})::BIGINT")
    nw = fold.col(f"{ln} // 8")
    rem = fold.col(f"{ln} % 8")
    has4 = fold.col(f"({rem} >= 4)")
    ntail = fold.col(f"{rem} - (CASE WHEN {has4} THEN 4 ELSE 0 END)")
    ks = []
    for j in range(mw):
        w = fold.col(
            " + ".join(
                f"{bp}[{8 * j + i + 1}] * {1 << (8 * i)}" for i in range(8)
            )
        )
        ks.append(fold.round64(w))
    off = fold.col(f"{nw} * 8")
    u32 = fold.col(
        " + ".join(f"{bp}[{off} + {i + 1}] * {1 << (8 * i)}" for i in range(4))
    )
    u32p = fold.col(f"({u32} * {P1}) & {M64 - 1}")
    off4 = fold.col(f"{off} + (CASE WHEN {has4} THEN 4 ELSE 0 END)")
    tps = [
        fold.col(f"({bp}[{off4} + {i + 1}] * {P5}) & {M64 - 1}") for i in range(3)
    ]
    return {
        "len": ln, "nw": nw, "has4": has4, "ntail": ntail,
        "ks": ks, "u32p": u32p, "tps": tps,
    }


def fold_bytes(fold: SqlFold, prep: dict, seed_sql: str) -> str:
    """Per-seed XXH64 fold over prepped columns -> unsigned HUGEINT col.
    ``seed_sql`` is any HUGEINT-valued expression (constant or column)."""
    h = fold.col(f"(({seed_sql}) + {P5} + {prep['len']}) & {M64 - 1}")
    for j, k in enumerate(prep["ks"]):
        t = fold.xor(h, k)
        t = fold.rotl(t, 27)
        t = fold.mulmod(t, P1)
        t = fold.addmod(t, P4)
        h = fold.col(f"(CASE WHEN {prep['nw']} > {j} THEN {t} ELSE {h} END)")
    t = fold.xor(h, prep["u32p"])
    t = fold.rotl(t, 23)
    t = fold.mulmod(t, P2)
    t = fold.addmod(t, P3)
    h = fold.col(f"(CASE WHEN {prep['has4']} THEN {t} ELSE {h} END)")
    for i in range(3):
        t = fold.xor(h, prep["tps"][i])
        t = fold.rotl(t, 11)
        t = fold.mulmod(t, P1)
        h = fold.col(
            f"(CASE WHEN {prep['ntail']} > {i} THEN {t} ELSE {h} END)"
        )
    return fold.fmix(h)


def fold_long(fold: SqlFold, input_col: str, seed: str | int) -> str:
    """XXH64 of one long (column holds the unsigned bit pattern); seed is
    a constant or a prior unsigned column -> unsigned HUGEINT column."""
    k = fold.round64(input_col)
    if isinstance(seed, int):
        h = fold.col(f"({(seed + P5 + 8) % M64})::HUGEINT")
    else:
        h = fold.col(f"(({seed}) + {P5} + 8) & {M64 - 1}")
    h = fold.xor(h, k)
    h = fold.rotl(h, 27)
    h = fold.mulmod(h, P1)
    h = fold.addmod(h, P4)
    return fold.fmix(h)
