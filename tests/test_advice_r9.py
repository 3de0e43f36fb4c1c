"""Round-9 ADVICE regressions: quote-aware / complete-conjunct index
pruning in ``_indexed_eq_prune`` (an unsound prune silently DROPPED rows),
sub-byte grayscale tRNS scaling, and encode_apng delays validation."""

from __future__ import annotations

import pytest

from cassandra_spark.cql import _parse
from cassandra_spark.cql_session import CqlSession


def _prune(s, stmt):
    """The equality prune of ``stmt``'s analysed WHERE, as the read
    router runs it."""
    return s._indexed_eq_prune("session.px", _parse(stmt).restrictions)


def _session(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute(
        "CREATE TABLE px (k text PRIMARY KEY, v int, name text, b int)"
    )
    s.execute("CREATE INDEX px_v_idx ON px (v)")
    s.execute("CREATE INDEX px_name_idx ON px (name)")
    for i in range(12):
        s.execute(
            f"INSERT INTO px (k, v, name, b) VALUES "
            f"('k{i:02d}', {i}, 'n{i}', {i % 2})"
        )
    return s


# --- high: expression RHS must never prune on its leading literal ---


def test_prune_rejects_arithmetic_rhs(spark, tmp_path):
    s = _session(spark, tmp_path)
    assert _prune(s, "SELECT k FROM px WHERE v = 5") == (
        "v",
        "5",
    )
    # 'v = 5 + 1' means v = 6; pruning to partitions whose cell is '5'
    # would drop every matching row
    assert (
        _prune(s, "SELECT k FROM px WHERE v = 5 + 1")
        is None
    )
    assert (
        _prune(s, "SELECT k FROM px WHERE v = 5e2")
        is None
    )
    assert (
        _prune(s, "SELECT k FROM px WHERE v = 5.5")
        is None
    )


def test_prune_arithmetic_rhs_end_to_end(spark, tmp_path):
    """Catalyst evaluates v = 5 + 1 as v = 6; the answer must contain the
    v=6 row (before the fix the snapshot was pruned to v='5' cells)."""
    s = _session(spark, tmp_path)
    rows = s.execute(
        "SELECT k FROM px WHERE v = 5 + 1 ALLOW FILTERING"
    ).collect()
    assert {r.k for r in rows} == {"k06"}


def test_prune_guard_is_quote_aware(spark, tmp_path):
    s = _session(spark, tmp_path)
    # the quoted string hides 'LIMIT' (used to truncate the WHERE extent)
    # and the clause carries a real OR (used to be invisible past the
    # truncation) — pruning the v=5 conjunct out of a disjunction drops
    # every b=1 row outside the v=5 partitions
    stmt = (
        "SELECT k FROM px WHERE v = 5 AND name = 'no LIMIT here' "
        "OR b = 1"
    )
    assert _prune(s, stmt) is None
    # an OR inside a string literal must NOT block pruning
    ok = _prune(
        s, "SELECT k FROM px WHERE name = 'x OR y'"
    )
    assert ok == ("name", "x OR y")


def test_prune_string_literal_with_keywords_extracts_fully(spark, tmp_path):
    s = _session(spark, tmp_path)
    got = _prune(
        s, "SELECT k FROM px WHERE name = 'a AND LIMIT 3'"
    )
    assert got == ("name", "a AND LIMIT 3")


def test_prune_still_fires_on_plain_conjunctions(spark, tmp_path):
    s = _session(spark, tmp_path)
    assert _prune(
        s, "SELECT k FROM px WHERE v = 7 AND b = 1 ALLOW FILTERING"
    ) == ("v", "7")
    assert _prune(
        s, "SELECT k FROM px WHERE b = 1 AND v = 7 LIMIT 5"
    ) == ("v", "7")
    rows = s.execute("SELECT k FROM px WHERE v = 7").collect()
    assert {r.k for r in rows} == {"k07"}


# --- low: depth-1/2/4 grayscale tRNS must scale before comparing ---


def test_png_subbyte_gray_trns_scales():
    import struct
    import zlib

    from cassandra_spark.operators.codecs import decode_png

    # 2x1 depth-1 grayscale: pixels [1, 0]; tRNS says raw value 1
    # (white) is transparent. Samples scale to 0-255 at unpack, so the
    # comparison must scale the tRNS value identically.
    rows = bytes([0, 0b10000000])
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 2, 1, 1, 0, 0, 0, 0)),
        (b"tRNS", struct.pack(">H", 1)),
        (b"IDAT", zlib.compress(rows)),
        (b"IEND", b""),
    )
    w, h, c, rgba = decode_png(data, keep_alpha=True)
    assert (w, h, c) == (2, 1, 4)
    assert rgba[0:4] == b"\xff\xff\xff\x00", "white must be transparent"
    assert rgba[4:8] == b"\x00\x00\x00\xff"


def test_png_2bit_gray_trns_scales():
    import struct
    import zlib

    from cassandra_spark.operators.codecs import decode_png

    # 4x1 depth-2: levels 0,1,2,3 → 0,85,170,255; tRNS raw 2 → 170
    rows = bytes([0, 0b00011011])
    data = _png_chunks(
        (b"IHDR", struct.pack(">IIBBBBB", 4, 1, 2, 0, 0, 0, 0)),
        (b"tRNS", struct.pack(">H", 2)),
        (b"IDAT", zlib.compress(rows)),
        (b"IEND", b""),
    )
    _w, _h, _c, rgba = decode_png(data, keep_alpha=True)
    alphas = [rgba[4 * i + 3] for i in range(4)]
    assert alphas == [255, 255, 0, 255]


def _png_chunks(*chunks):
    import struct
    import zlib

    out = b"\x89PNG\r\n\x1a\n"
    for ctype, payload in chunks:
        out += (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )
    return out


# --- low: encode_apng validates delays length up front ---


def test_encode_apng_rejects_short_delays():
    from cassandra_spark.operators.apng import encode_apng

    frames = [b"\x00" * 12, b"\xff" * 12]
    with pytest.raises(ValueError, match="delays_ms"):
        encode_apng(2, 2, frames, delays_ms=[100])
