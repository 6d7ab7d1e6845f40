"""Zero-copy Arrow-batch -> NumPy bridges for mapInArrow kernels.

`RecordBatch.to_pydict()` materializes every cell as a Python object —
for a 64-dim embedding column that is 64 boxed floats per row, ~100x the
bytes of the Arrow buffer and the dominant constant in a vectorized
kernel. These helpers go buffer->ndarray instead: the only copy left is
the (required) float32 -> float64 widening for BLAS inputs.
"""

from __future__ import annotations

import numpy as np


def column_i64(batch, name: str) -> np.ndarray:
    """Integer column -> int64 ndarray (zero-copy for null-free int64)."""
    return batch.column(name).to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )


def list_matrix_f64(batch, name: str) -> np.ndarray:
    """Fixed-width list<float> column -> (n, d) float64 matrix."""
    return _list_matrix(batch, name).astype(np.float64, copy=False)


def list_matrix_i64(batch, name: str) -> np.ndarray:
    """Fixed-width list<long> column -> (n, d) int64 matrix."""
    return _list_matrix(batch, name).astype(np.int64, copy=False)


def _list_matrix(batch, name: str) -> np.ndarray:
    """Fixed-width list column -> (n, d) matrix of its value type.

    `flatten()` yields the offset-corrected value buffer (no per-row
    Python); the reshape is only valid for uniform row lengths, which is
    asserted from the offsets — a ragged column must fail loudly, not
    shear rows across vectors.
    """
    col = batch.column(name)
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.empty((0, 0), dtype=flat.dtype)
    offsets = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    d = int(offsets[0])
    if not (offsets == d).all():
        raise ValueError(f"ragged list column {name!r}: lengths vary")
    return flat.reshape(n, d)
