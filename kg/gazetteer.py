"""Versioned gazetteer snapshots — the v2 stateful-dictionary API analogue.

The reference keeps a mutable in-process trie store the v2 endpoints mutate
(populate_entities / delete_entities / reset at
/root/reference/src/hu_entity/server.py:140-206, backed by
entity_finder.py:16-49). A distributed engine replaces in-process mutation
with IMMUTABLE table snapshots: every mutation writes a new version of the
gazetteer dim (entity_name, value, value_norm, n_words) and bumps a version
pointer; readers always see a consistent version. The layout (versioned
parquet dirs + a `_latest` pointer file) maps 1:1 onto Iceberg snapshots —
swap the writer for an Iceberg catalog on a real deployment.

entity_check (server.py:171-186) == detect_mentions against the snapshot dim.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.session import local_df
from kg.stages.mentions import detect_mentions, gazetteer_dim

__all__ = ["GazetteerSnapshots"]


class GazetteerSnapshots:
    """Append-only snapshot store under ``base_dir``.

    Layout: base_dir/v{N}/*.parquet (immutable), base_dir/_latest -> "N".
    Version 0 is the implicit empty dictionary.
    """

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)

    # ---- version bookkeeping ----

    def latest_version(self) -> int:
        p = self.base / "_latest"
        return int(p.read_text()) if p.exists() else 0

    def _commit(self, df: DataFrame) -> int:
        new_v = self.latest_version() + 1
        df.write.mode("errorifexists").parquet(str(self.base / f"v{new_v}"))
        # pointer flip last — readers of the old version are unaffected and a
        # crash before the flip leaves an unreferenced (harmless) directory
        (self.base / "_latest").write_text(str(new_v))
        return new_v

    def read(self, version: int | None = None) -> DataFrame:
        """Dim DataFrame at ``version`` (default: latest). Version 0 = empty."""
        v = self.latest_version() if version is None else version
        if v == 0:
            return local_df(
                self.spark,
                [],
                "entity_name string, value string, value_norm string, n_words int",
            )
        return self.spark.read.parquet(str(self.base / f"v{v}"))

    # ---- mutations (each returns the new version number) ----

    def populate(self, entities: dict[str, list[str]]) -> int:
        """v2 populate_entities: replace/add the given entity names, keep the
        rest (server.py:156 replaces the whole finder's tries per name)."""
        incoming = gazetteer_dim(self.spark, entities)
        names = list(entities)
        current = self.read()
        kept = current.where(~F.col("entity_name").isin(*names)) if names else current
        return self._commit(kept.unionByName(incoming))

    def delete(self, entity_names: list[str]) -> int:
        """v2 delete_entities: drop whole entity names
        (entity_finder.py:43-46)."""
        current = self.read()
        remaining = (
            current.where(~F.col("entity_name").isin(*entity_names))
            if entity_names
            else current
        )
        return self._commit(remaining)

    def reset(self) -> int:
        """v2 reset: empty dictionary (server.py:204-206)."""
        return self._commit(self.read(0))

    # ---- query ----

    def check(self, docs: DataFrame, id_col: str = "url",
              version: int | None = None) -> DataFrame:
        """v2 entity_check analogue: dictionary mention detection against the
        snapshot (no regexes — the v2 API has none; server.py:171-186).
        share_scan=False: check is typically called once per version in a
        long-lived session, and each persisted share would otherwise pile up
        in the cache (regex pass is absent, so the shared subtree has one
        consumer anyway)."""
        return detect_mentions(
            docs, self.read(version), None, id_col=id_col, share_scan=False
        )
