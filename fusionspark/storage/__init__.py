"""Table storage: the manifest-commit table every engine-owned collection
lives in (storage/manifest.py), and the Delta Lake reader behind
attach_delta (storage/delta.py)."""

from fusionspark.storage.manifest import ManifestTable

__all__ = ["ManifestTable"]
