"""The standing-asset lifecycle: key, build once, publish.

The reference's index family is build once, probe many: the inverted
index is written once as a partitioned MapFile
(BuildInvertedIndexCompressed.java:187) and every query seeks into it
(BooleanRetrievalCompressed.java:31-37). Every write-once asset of this
engine (vector/term/dedup indexes, cluster map, span grams, spectrum
contexts, LM and DSIR scores, BPE vocabulary, k-means centroids, the
curate manifest) goes through this module:

- ``asset_dir`` is the key rule: the input table's (size, mtime_ns), a
  version constant, and the parameters that shape the data. Fixture
  regeneration, a parameter change or a version bump each land in a new
  directory, so a probe can never read an asset built from other inputs.
- ``build_once`` is the gate: a directory carrying ``_SUCCESS`` is
  complete and is only ever read; a missing or torn one is built into a
  private temp directory and published.
- ``publish`` is the atomic rename that lets concurrent builders and
  readers race safely.

``INDEX_ROOT`` (``SPARK_GRAFT_INDEX_DIR``) is the one place assets live.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_INDEX_DIR", os.path.join(_REPO_ROOT, "spark-warehouse")
)


def derived_dir(kind: str, version: int, base: str, params: str) -> str:
    """Directory of an asset built from another asset's data: the
    upstream key (which already carries its input's signature and
    parameters) nested inside this asset's kind, version and params."""
    return os.path.join(
        INDEX_ROOT, f"{kind}_v{version}_{os.path.basename(base)}_{params}"
    )


def asset_dir(
    kind: str, sf_dir: str, table: str, params: str, *, version: int
) -> str:
    """Directory of one asset for one data generation, keyed on
    ``<table>.parquet``'s (size, mtime_ns), ``version`` and ``params``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    label = os.path.basename(os.path.normpath(sf_dir))
    return derived_dir(
        kind, version, f"{label}_{st.st_size}_{st.st_mtime_ns}", params
    )


def build_once(dst: str, write: Callable[[str], None]) -> str:
    """Return ``dst``, first building it iff it carries no ``_SUCCESS``.

    ``write(tmp)`` writes the asset into a fresh private directory, so a
    hit costs one ``exists`` check and no DataFrame construction (some
    builders run training jobs as they construct). Two concurrent
    builders each write their own temp copy; ``publish`` keeps one."""
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        return dst
    tmp = f"{dst}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        write(tmp)
        publish(tmp, dst)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


def publish(src: str, dst: str) -> None:
    """Publish one complete build directory at ``dst``, racing safely
    with concurrent publishers: a dst that already carries _SUCCESS
    always stands (never deleted out from under a reader); a TORN dst is
    moved ASIDE by rename (so a reader mid-listing keeps a valid path)
    and the rename into place is retried, treating "dst now complete" as
    success — the loser of any race discards its copy instead of
    raising."""
    for _ in range(5):
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            return
        try:
            os.rename(src, dst)
            return
        except OSError:
            # dst exists: complete (another publisher won — done) or
            # torn (move it aside, then retry the rename).
            if os.path.exists(os.path.join(dst, "_SUCCESS")):
                return
            torn = f"{dst}.torn-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(dst, torn)
            except OSError:
                continue  # a racer moved/replaced dst first; re-check
            if os.path.exists(os.path.join(torn, "_SUCCESS")):
                # TOCTOU guard: dst COMPLETED between the _SUCCESS
                # re-check and the move-aside, so ``torn`` is a complete
                # copy a reader may already have resolved
                # (spark.read.parquet lists files lazily at action
                # time). Publish it back instead of deleting it — this
                # is what makes the "never deleted out from under a
                # reader" guarantee hold; if a racer re-occupied dst
                # meanwhile, keep whichever complete copy stands and
                # only discard ours once dst carries _SUCCESS.
                try:
                    os.rename(torn, dst)
                    return
                except OSError:
                    if os.path.exists(os.path.join(dst, "_SUCCESS")):
                        shutil.rmtree(torn, ignore_errors=True)
                        return
                    # dst torn again: our complete copy becomes the
                    # publish source and the loop retries the rename.
                    src = torn
                    continue
            shutil.rmtree(torn, ignore_errors=True)
    raise OSError(f"could not publish {dst}: persistent publish race")
