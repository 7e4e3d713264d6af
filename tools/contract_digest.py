"""Print the sha256 of the registered query names and of the oracle map.

Two trees have the same driver contract when both digests match; no
Spark session is started. ``tests/test_registry.py`` pins both lines.

    python tools/contract_digest.py
"""
import hashlib, json, sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from pitlapetl_spark.registry import all_oracles, all_queries


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def contract_digest() -> list[str]:
    """The two digest lines: registered names in order, then every
    (name, oracle SQL) pair in order."""
    return [
        f"queries {len(all_queries())} {_sha(list(all_queries()))}",
        f"oracles {len(all_oracles())} {_sha(list(all_oracles().items()))}",
    ]


if __name__ == "__main__":
    print("\n".join(contract_digest()))
