"""Counts pins (``DataFrame.localCheckpoint`` calls) from outside the
engine, the way the pin lints do: wrap the class attribute, call
straight through."""

from __future__ import annotations


class PinSpy:
    def __init__(self) -> None:
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pre-4.0 layout
            from pyspark.sql import DataFrame
        self._cls = DataFrame
        self._orig = DataFrame.localCheckpoint
        self.active = False
        self.pins = 0
        self.eager_pins = 0
        spy = self

        def local_checkpoint(df, eager: bool = True):
            if spy.active:
                spy.pins += 1
                spy.eager_pins += bool(eager)
            return spy._orig(df, eager=eager)

        DataFrame.localCheckpoint = local_checkpoint

    def uninstall(self) -> None:
        self._cls.localCheckpoint = self._orig
