from .tables import (
    SUBSTRATES,
    TABLES,
    events_stream,
    register_views,
    spread_for_cpu,
    substrate,
    table,
    warm_substrates,
)

__all__ = ["TABLES", "SUBSTRATES", "table", "register_views", "events_stream", "spread_for_cpu",
           "substrate", "warm_substrates"]
