"""The one sketch ⇄ bytes codec.

Every place a sketch crosses a process or storage boundary — shuffle
buffers, persisted parquet stores, streaming state, broadcast filters —
encodes with ``dumps`` and decodes with ``loads``, so the wire format is
decided here and nowhere else.

The format is Python pickle of the kernel dataclasses (crick's own
persistence surface, ``crick/tdigest.pyx:246-263``), which keeps stored
blobs, streaming checkpoints and query hashes byte-for-byte stable.  A
versioned format replaces the two function bodies below.
"""

from __future__ import annotations

import pickle


def dumps(sketch: object) -> bytes:
    """Encode one sketch kernel to bytes."""
    return pickle.dumps(sketch)


def loads(blob: bytes | bytearray | memoryview) -> object:
    """Decode bytes written by ``dumps`` back into the sketch kernel."""
    return pickle.loads(blob)
