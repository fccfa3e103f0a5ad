"""Named operators — the session-plugin analog.

The reference loads per-stage transform plugins from shared objects and
invokes ``AbstractSessionBase::Run`` per packet
(``/root/reference/MFramework.cpp:744-749``, ``:905``,
``SOContainer.cpp:67-88``). Here an operator is a named Python callable
``DataFrame -> DataFrame`` held in :mod:`.registry`; pipelines
(:mod:`..plans.spec`) chain them by name, exactly as the reference
chains sessions via ``M_LINKED_SESSIONS`` rows.
"""

from etl_work_flow_for_big_data_spark.operators.registry import (
    OperatorRegistry,
    operator,
)

__all__ = ["OperatorRegistry", "operator"]
