"""Feature-id codec: the reference's biunivocal string<->int id mapping
(utils.py:41-46 ``string_to_int_id`` / ``int_id_to_string`` — big-endian
bytes of the station name as an integer; arpae's GeoJSON features use it
when no explicit station id exists, rer_river_discharge_arpae_process.py
:486). Plain Python, exact for any length, as the reference runs it
per feature.
"""

from __future__ import annotations


def string_to_int_id(s: str) -> int:
    """Exact reference codec (utils.py:41-42)."""
    return int.from_bytes(s.encode(), "big")


def int_id_to_string(i: int) -> str:
    """Exact reference inverse (utils.py:45-46)."""
    return i.to_bytes((i.bit_length() + 7) // 8, "big").decode()
