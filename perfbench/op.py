"""The unit of work the benchmark times and checks."""


class Op:
    """One benchmark operation: ``run`` is timed, ``check`` (given the
    result) is not and returns True when the result is right. ``units``
    is the op's work in its class's unit (cells for scans and writes,
    one per lookup); ``detail`` is copied into the op's record."""

    def __init__(self, cls, kind, run, check, units=0):
        self.cls, self.kind, self.run, self.check, self.units = cls, kind, run, check, units
        self.detail: dict = {}
