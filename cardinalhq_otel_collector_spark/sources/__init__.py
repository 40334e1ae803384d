"""Sources & sinks: the table catalog, connectors and committed fixtures."""
