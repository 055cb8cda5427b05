"""Multi-operator pipelines: crawl rounds, politeness, state."""
