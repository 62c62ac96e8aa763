"""``index_metadata`` K/V side table (reference Go
file_indexer_go/db/database.go:47-50; written at indexer.go:72-77,
read at db/database.go:219-231).

A handful of key/value rows (root_path, indexed timestamp, schema
version), stored as one JSON object in the file at ``location``. A
write goes to a unique temp file, is fsync'ed and then ``os.replace``d
into place: readers see the old object or the new one, never neither,
and the write needs no Spark job.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession

KEY_ROOT_PATH = "root_path"
KEY_INDEXED_AT = "indexed"


class IndexMetadata:
    def __init__(self, spark: SparkSession, location: str):
        """``spark`` is kept in the signature for callers; the store
        itself is a local file and runs no Spark job."""
        self.location = os.path.abspath(location)

    def read_all(self) -> dict[str, str]:
        try:
            with open(self.location) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def get(self, key: str) -> str | None:
        return self.read_all().get(key)

    def set_many(self, items: dict[str, str]) -> None:
        """Merge ``items`` into the stored object by an atomic swap: a
        concurrent writer's last replace wins whole."""
        merged = {**self.read_all(), **items}
        os.makedirs(os.path.dirname(self.location), exist_ok=True)
        tmp = f"{self.location}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(merged, fh, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.location)

    def set(self, key: str, value: str) -> None:
        self.set_many({key: value})
