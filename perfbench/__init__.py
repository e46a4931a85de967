"""Repository benchmark for the neural_search_spark engine (see README.md)."""
