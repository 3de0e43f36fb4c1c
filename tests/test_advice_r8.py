"""Round-8 ADVICE regressions: WHERE surviving the SAI-artifact ANN route,
the ALTER gate on catalog-table index DDL, the tkhd geometry offset, and
the segment-log read-window knob."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_session import CqlSession, CQLError

SF = "/root/testdata/sf0.001"


# --- high: WHERE + ANN must filter through the persisted SAI artifact ---


def test_ann_with_where_respects_predicate_via_artifact(spark):
    s = CqlSession(spark, sf_dir=SF)
    s.execute(
        "CREATE CUSTOM INDEX emb_idx_r8 ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    # the artifact route really engaged (vector index recorded)
    assert "embedding" in s.sai_vector_index.get("embeddings", {})
    qv = ", ".join(
        str(round((((7 * d + 3) % 19) - 9) / 10, 1)) for d in range(64)
    )
    unfiltered = s.execute(
        f"SELECT vec_id, label FROM embeddings "
        f"ORDER BY embedding ANN OF [{qv}] LIMIT 10"
    ).collect()
    filtered = s.execute(
        f"SELECT vec_id, label FROM embeddings WHERE label = 5 "
        f"ORDER BY embedding ANN OF [{qv}] LIMIT 10 ALLOW FILTERING"
    ).collect()
    assert filtered, "label=5 candidates exist in the probed buckets"
    assert all(r.label == 5 for r in filtered), (
        "WHERE must be applied to the artifact scan, not dropped"
    )
    # before the fix the two statements returned identical top-k
    assert {r.vec_id for r in unfiltered} != {r.vec_id for r in filtered}


def test_ann_where_artifact_matches_per_row_hash_route(spark):
    """The artifact route (partition-pruned layout) and the no-artifact
    per-row-hash route must agree on WHERE + ANN results."""
    qv = ", ".join(
        str(round((((7 * d + 3) % 19) - 9) / 10, 1)) for d in range(64)
    )
    stmt = (
        f"SELECT vec_id FROM embeddings WHERE label = 5 "
        f"ORDER BY embedding ANN OF [{qv}] LIMIT 10 ALLOW FILTERING"
    )
    s1 = CqlSession(spark, sf_dir=SF)
    s1.execute(
        "CREATE CUSTOM INDEX e_art ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    via_artifact = [r.vec_id for r in s1.execute(stmt).collect()]

    s2 = CqlSession(spark, sf_dir=SF)
    s2.execute(
        "CREATE CUSTOM INDEX e_row ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    # drop the artifact pointer: same index flags, per-row-hash route
    s2.sai_vector_index["embeddings"].pop("embedding")
    via_rows = [r.vec_id for r in s2.execute(stmt).collect()]
    assert via_artifact == via_rows


# --- medium: catalog-table index DDL requires ALTER ---------------------


def test_create_catalog_index_gated_on_alter(spark):
    s = CqlSession(spark, sf_dir=SF)
    s.execute("CREATE ROLE idx_pleb WITH LOGIN = true")
    s.login("idx_pleb")
    with pytest.raises(CQLError, match="ALTER"):
        s.execute(
            "CREATE CUSTOM INDEX pleb_idx ON embeddings (embedding) "
            "USING 'StorageAttachedIndex'"
        )
    # the rejected DDL must leave no trace
    assert "pleb_idx" not in s.index_names
    assert not any(v[:2] == ("embeddings", "embedding") for v in s.index_names.values())
    # with ALTER granted the same role succeeds
    s.login("cassandra")
    s.execute("GRANT ALTER ON embeddings TO idx_pleb")
    s.login("idx_pleb")
    s.execute(
        "CREATE CUSTOM INDEX pleb_idx ON embeddings (label) "
        "USING 'StorageAttachedIndex'"
    )
    assert "pleb_idx" in s.index_names


# --- low: tkhd geometry offset -------------------------------------------


def test_tkhd_geometry_parsed_from_tkhd_not_stsd():
    """The writer emits spec-sized tkhd (geometry at payload+72 for v0);
    the reader's tkhd branch must actually parse it — before the fix the
    offset was +80 and the branch was dead for every spec-sized box, so
    geometry always fell through to stsd."""
    import struct

    from cassandra_spark.operators import mp4

    w, h = 32, 16
    frames = [bytes([60, 120, 200]) * (w * h)] * 3
    blob = mp4.encode_mp4_mjpeg(w, h, frames, fps=10)
    # corrupt stsd's geometry so only tkhd can supply the right answer:
    # stsd layout = size(4) 'stsd'(4) verflags(4) count(4) entrysize(4)
    # fourcc(4) entry-payload — geometry at entry-payload offset 24
    i = blob.find(b"stsd")
    assert i != -1
    assert blob[i + 16 : i + 20] == b"jpeg"
    mutated = bytearray(blob)
    struct.pack_into(">HH", mutated, i + 20 + 24, 0, 0)
    st = mp4.demux_mp4(bytes(mutated))
    assert (st.width, st.height) == (w, h)


def test_tkhd_roundtrip_geometry_unchanged():
    from cassandra_spark.operators import mp4

    w, h = 64, 48
    frames = [bytes([10, 20, 30]) * (w * h)]
    st = mp4.demux_mp4(mp4.encode_mp4_mjpeg(w, h, frames, fps=5))
    assert (st.width, st.height) == (w, h)


# --- low: segment-log read window is configurable -------------------------


def test_segment_keep_env_knob(tmp_path, monkeypatch):
    from cassandra_spark.streaming.segment_log import SegmentLog

    monkeypatch.setenv("CASSANDRA_SPARK_SEGMENT_KEEP", "5")
    assert SegmentLog(str(tmp_path / "a")).keep == 5
    monkeypatch.delenv("CASSANDRA_SPARK_SEGMENT_KEEP")
    assert SegmentLog(str(tmp_path / "b")).keep == 2
    # floor of 2 preserves the one-generation deferred-GC contract
    assert SegmentLog(str(tmp_path / "c"), keep=1).keep == 2


def test_gc_honours_raised_keep(tmp_path):
    import json
    import os

    from cassandra_spark.streaming.segment_log import SegmentLog

    log = SegmentLog(str(tmp_path), keep=4)
    for ep in range(6):
        seg = f"seg-{ep}"
        os.makedirs(tmp_path / seg)
        (tmp_path / seg / "part.parquet").write_bytes(b"x")
        m = tmp_path / f"m-{ep:010d}.json"
        m.write_text(json.dumps({"epoch": ep, "segments": {"base": [seg]}}))
    removed = log.gc()
    # only segments outside the newest 4 manifests may be deleted
    assert {os.path.basename(p) for p in removed} == {"seg-0", "seg-1"}
    assert (tmp_path / "seg-2").exists() and (tmp_path / "seg-5").exists()
