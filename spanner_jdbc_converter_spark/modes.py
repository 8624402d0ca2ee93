"""ConvertMode semantics (SURVEY.md §1.5) and the one gate that applies
them to a destination.

The reference applies ``ConvertMode = {SkipAll, SkipExisting,
DropAndRecreate, ThrowExceptionIfExists}`` independently to the DDL and
data phases (REF/ConvertMode.java:3-6,
REF/cfg/ConverterConfiguration.java:160-178).  Each phase is decided
once from one destination probe; no mode reaches a Spark ``SaveMode``.
"""

from __future__ import annotations

import enum


class ConvertMode(enum.Enum):
    SKIP_ALL = "SkipAll"
    SKIP_EXISTING = "SkipExisting"
    DROP_AND_RECREATE = "DropAndRecreate"
    THROW_IF_EXISTS = "ThrowExceptionIfExists"


class TableExistsError(RuntimeError):
    """ThrowExceptionIfExists semantics (REF/ddl/TableConverter.java:201-202)."""


def refuse_existing(mode: ConvertMode, destination_empty: bool, destination: str) -> None:
    """ThrowExceptionIfExists refuses a destination that holds rows; an
    absent or empty one is created or filled like SkipExisting."""
    if mode is ConvertMode.THROW_IF_EXISTS and not destination_empty:
        raise TableExistsError(destination)


def should_copy_data(mode: ConvertMode, destination_empty: bool, destination: str) -> bool:
    """Data-phase gate: SkipExisting copies only into empty destinations
    (README.md:17-18); DropAndRecreate always copies (after delete);
    ThrowExceptionIfExists copies into an empty destination and raises
    on any other."""
    refuse_existing(mode, destination_empty, destination)
    if mode is ConvertMode.SKIP_ALL:
        return False
    return mode is ConvertMode.DROP_AND_RECREATE or destination_empty
