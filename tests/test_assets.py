"""The standing-asset lifecycle module (sources/assets.py): the publish
race semantics, and that no other engine module re-implements the
lifecycle. Pure filesystem tests: no SparkSession."""

from __future__ import annotations

import os

import bigdata_infra_cs489_spark as engine


def test_publish_race_semantics(tmp_path):
    """A dst that already carries _SUCCESS always stands (the
    publisher's copy is discarded, never the published dir); a TORN dst
    is replaced; a rename race that loses to a concurrent complete
    publish is treated as success instead of raising."""
    from bigdata_infra_cs489_spark.sources.assets import publish

    def build(name: str, marker: bool, payload: str) -> str:
        d = tmp_path / name
        d.mkdir()
        (d / "part-0").write_text(payload)
        if marker:
            (d / "_SUCCESS").write_text("")
        return str(d)

    # 1. complete dst stands: src discarded, dst payload untouched
    src = build("src1", True, "loser")
    dst = build("dst1", True, "winner")
    publish(src, dst)
    assert (tmp_path / "dst1" / "part-0").read_text() == "winner"
    assert os.path.exists(src)  # caller's rmtree(tmp) cleans the temp root

    # 2. torn dst (no _SUCCESS) is replaced by the complete build
    src = build("src2", True, "fresh")
    dst = build("dst2", False, "torn")
    publish(src, dst)
    assert (tmp_path / "dst2" / "part-0").read_text() == "fresh"
    assert os.path.exists(tmp_path / "dst2" / "_SUCCESS")

    # 3. missing dst: plain publish
    src = build("src3", True, "new")
    publish(src, str(tmp_path / "dst3"))
    assert (tmp_path / "dst3" / "part-0").read_text() == "new"


def test_publish_toctou_complete_copy_survives(tmp_path, monkeypatch):
    """If dst COMPLETES between the _SUCCESS re-check and the move-aside
    rename (the racer finishes at exactly that instant), the moved-aside
    dir is a complete copy a reader may already have resolved — it must
    be published back, never rmtree'd. Simulated deterministically by a
    rename wrapper that drops _SUCCESS into dst at the move-aside
    call."""
    from bigdata_infra_cs489_spark.sources.assets import publish

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0").write_text("loser")
    (src / "_SUCCESS").write_text("")
    dst = tmp_path / "dst"
    dst.mkdir()  # torn at probe time: data, no _SUCCESS yet
    (dst / "part-0").write_text("racer")

    real_rename = os.rename

    def racing_rename(a, b):
        if str(a) == str(dst) and ".torn-" in str(b):
            (dst / "_SUCCESS").write_text("")  # the racer completes NOW
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", racing_rename)
    publish(str(src), str(dst))
    # the racer's complete copy stands at dst — republished, not deleted
    assert (dst / "part-0").read_text() == "racer"
    assert os.path.exists(dst / "_SUCCESS")
    # and no stray torn directory leaks next to it
    assert [p for p in os.listdir(tmp_path) if ".torn-" in p] == []


def test_build_once_hit_skips_write_and_miss_leaves_no_temp(tmp_path):
    from bigdata_infra_cs489_spark.sources.assets import build_once

    dst = str(tmp_path / "asset")
    calls = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    assert build_once(dst, write) == dst
    assert build_once(dst, write) == dst  # hit: write never called
    assert len(calls) == 1 and calls[0].startswith(f"{dst}.build-")
    assert os.listdir(tmp_path) == ["asset"]


def test_only_assets_module_owns_the_lifecycle():
    """The _SUCCESS gate, the temp-build naming and the index-root
    setting live in sources/assets.py alone; every other engine module
    goes through asset_dir / build_once."""
    root = os.path.dirname(engine.__file__)
    owner = os.path.join(root, "sources", "assets.py")
    offenders = []
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for token in ("_SUCCESS", ".build-", "SPARK_GRAFT_INDEX_DIR"):
                if token in text:
                    offenders.append(f"{os.path.relpath(path, root)}: {token}")
    assert offenders == []
