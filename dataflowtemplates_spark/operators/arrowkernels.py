"""Arrow <-> numpy kernels shared by the Arrow-batched sinks and
sources (operators/tfrecord.py, operators/avro_io.py).

They work on Arrow buffers directly and never hand pyarrow a Python
object to convert (``pa.array``, ``pa.scalar``, ``fill_null(<value>)``)
or ask it for numpy output (``to_numpy``): pyarrow imports pandas, when
installed, the first time it does either, which costs each Python
worker about 40 MB of resident memory for the rest of its life. A
worker that runs only these kernels never loads pandas.
"""

from __future__ import annotations


def arrow_kernels():
    """Returns the kernels as attributes of one namespace; each is a
    self-contained closure (pickles by value), like the writer kernels
    that capture them:

    * ``varints(u) -> list[bytes]``: the base-128 varint of every value
      of a numpy uint64 array (two's complement for negative int64, as
      protobuf encodes them), computed for the whole array in a few
      numpy passes.
    * ``numbers(arr) -> numpy array``: read-only view of the values of
      a fixed-width Arrow array (integers, floats, and the integer
      storage of dates and timestamps); null slots hold arbitrary
      values.
    * ``binary(arr)``: a string array as the binary array over the same
      UTF-8 bytes (binary arrays pass through), for ``to_pylist`` to
      return bytes without decoding.
    * ``array(values, type) -> pa.Array``: an Arrow array of Python
      values (None is null) for int64, float32/64, binary and string
      types and lists of them, built from buffers.
    """
    from types import SimpleNamespace

    def varints(u):
        import numpy as np

        n = len(u)
        if not n:
            return []
        shifts = np.arange(0, 70, 7, dtype=np.uint64)  # ten 7-bit groups
        rest = u[:, None] >> shifts
        width = np.maximum(np.count_nonzero(rest, axis=1), 1)
        groups = (rest & np.uint64(0x7F)).astype(np.uint8)
        lane = np.arange(10)
        groups[lane < (width - 1)[:, None]] |= 0x80  # continuation bits
        flat = groups[lane < width[:, None]].tobytes()
        ends = np.cumsum(width).tolist()
        return [flat[e - w:e] for e, w in zip(ends, width.tolist())]

    def numbers(arr):
        import numpy as np
        import pyarrow as pa

        kind = "f" if pa.types.is_floating(arr.type) else "i"
        dtype = np.dtype(f"<{kind}{arr.type.bit_width // 8}")
        if not len(arr):
            return np.empty(0, dtype)
        return np.frombuffer(arr.buffers()[1], dtype, len(arr),
                             arr.offset * dtype.itemsize)

    def binary(arr):
        import pyarrow as pa

        if pa.types.is_string(arr.type):
            return arr.cast(pa.binary())
        if pa.types.is_large_string(arr.type):
            return arr.cast(pa.large_binary())
        return arr

    def offsets_of(lengths):
        import numpy as np

        out = np.zeros(len(lengths) + 1, np.int32)
        np.cumsum(lengths, out=out[1:])
        return out.tobytes()

    def array(values, type):
        import numpy as np
        import pyarrow as pa

        n = len(values)
        valid = [v is not None for v in values]
        nulls = n - sum(valid)
        bitmap = (pa.py_buffer(np.packbits(valid, bitorder="little")
                               .tobytes()) if nulls else None)
        if pa.types.is_list(type):
            child = array([x for v in values if v is not None for x in v],
                          type.value_type)
            lengths = [0 if v is None else len(v) for v in values]
            return pa.Array.from_buffers(
                type, n, [bitmap, pa.py_buffer(offsets_of(lengths))],
                null_count=nulls, children=[child])
        if pa.types.is_string(type) or pa.types.is_binary(type):
            data = [b"" if v is None else v.encode() if isinstance(v, str)
                    else v for v in values]
            return pa.Array.from_buffers(
                type, n, [bitmap,
                          pa.py_buffer(offsets_of([len(d) for d in data])),
                          pa.py_buffer(b"".join(data))],
                null_count=nulls)
        dtype = {"int64": np.int64, "float": np.float32,
                 "double": np.float64}[str(type)]
        raw = np.array([0 if v is None else v for v in values], dtype)
        return pa.Array.from_buffers(
            type, n, [bitmap, pa.py_buffer(raw.tobytes())], null_count=nulls)

    return SimpleNamespace(varints=varints, numbers=numbers, binary=binary,
                           array=array)
