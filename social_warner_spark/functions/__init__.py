"""Scalar/array expression helpers shared by operators and queries."""
