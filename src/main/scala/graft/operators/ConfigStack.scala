package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Config-stack traversal (SURVEY hard-part #1: version-skewed nested
  * schemas). The reference branches EVERYTHING on
  * `stack[0].schemaVersion != "2.0.0"`; all traversals here are pure
  * Column expressions over [[graft.model.Schemas.configStackDoc]] —
  * per-document, zero shuffle, version skew handled by nullable
  * branches of one union schema.
  *
  * Reference quirks preserved:
  *  - the QOS elif chain (`process_segment_pb`,
  *    `powerbi_main_fun.py:2196-2228`): `routeCfg.type` is consulted
  *    only when `routePolicy` is neither 'gateway' nor 'direct';
  *  - segmented QOS reads SEGMENT 0 ONLY (`…['segments'][0]['rules']`);
  *  - firewall level fallback is NULL-based for enabled/stateful
  *    (`update_segment_firewall:2313-2334`: `is not None` chains ⇒
  *    coalesce(edge, profile, false)) but OR-based for in/out bools
  *    and SUM-based for rule counts (`2340-2345`);
  *  - the feature-set pb fallback is VALUE-based
  *    (`update_license_and_link_usage:1999-2003`): profile level only
  *    when all of pb/css/nvs are false — see
  *    [[License.levelFallback]].
  *
  * A Column is a tree, not a DAG — a Scala `val` used N times is
  * analysed, optimised and code-generated N times; branch at the
  * leaves and build each subterm once. So the schema-version branch
  * sits on the two leaves it changes (each level's QOS rules array and
  * the controlPlane `vpn` struct), one fold sets all five pb flags of
  * a level, and a subterm read more than once is bound to one lambda
  * variable ([[bind]]). `ConfigStackSpec` and `PowerBiPipelineSpec`
  * bound the analysed plan sizes.
  */
object ConfigStack {

  /** stack level by position (0 = edge-specific, 1 = profile). */
  def level(stack: Column, i: Int): Column = get(stack, lit(i))

  def isSegmented(stack: Column): Column =
    coalesce(level(stack, 0).getField("schemaVersion") =!= "2.0.0", lit(true))

  private def module(stack: Column, i: Int, name: String): Column =
    Nested.moduleByName(level(stack, i).getField("modules"), "name", name)

  /** `body(value)` with `value` built and evaluated once: `body` sees
    * it as one lambda variable, so each use is a single node instead
    * of a copy of `value`'s tree.
    */
  private def bind(value: Column)(body: Column => Column): Column =
    aggregate(array(), value, (acc, _) => acc, body)

  // ------------------------------------------------------------- QOS pb

  /** One QOS rule classified by the reference's elif chain into the
    * flag named by `which` ∈ {gw, direct, hub, css, nvs}.
    */
  private[operators] def ruleFlag(rule: Column, which: String): Column = {
    val e2c = rule.getField("action").getField("routeType") === "edge2Cloud"
    val policy = coalesce(
      rule.getField("action").getField("edge2CloudRouteAction")
        .getField("routePolicy"), lit(""))
    val cfgType = coalesce(
      rule.getField("action").getField("edge2CloudRouteAction")
        .getField("routeCfg").getField("type"), lit(""))
    val notEarlier = policy =!= "gateway" && policy =!= "direct"
    which match {
      case "gw"     => e2c && policy === "gateway"
      case "direct" => e2c && policy === "direct"
      case "hub"    => e2c && notEarlier && cfgType === "edge"
      case "css"    => e2c && notEarlier && cfgType === "cloudSecurityService"
      case "nvs"    => e2c && notEarlier && cfgType === "dataCenter"
    }
  }

  /** ([[ruleFlag]] `which`, output field) of the five pb flags. */
  private val pbFlagFields = Seq("gw" -> "pb_via_gw",
    "direct" -> "pb_internet_via_direct", "hub" -> "pb_internet_via_hub",
    "css" -> "css_via_gw", "nvs" -> "nvs_via_gw")

  private def noRules = array().cast(
    org.apache.spark.sql.types.ArrayType(graft.model.Schemas.qosRule))

  /** `process_segment_pb` / `process_nonsegment_pb` for one level:
    * returns (pb_via_gw, pb_internet_via_direct, pb_internet_via_hub,
    * css_via_gw, nvs_via_gw) as a struct column. `segmented` (see
    * [[isSegmented]]) picks the rules array: segment 0's rules for
    * segmented stacks, the flat rules otherwise. One fold over the
    * rules sets all five flags; a flag is true when any rule
    * classifies into it.
    */
  def pbFlags(stack: Column, levelIdx: Int, segmented: Column): Column = {
    val data = module(stack, levelIdx, "QOS").getField("data")
    val rules = when(segmented,
        get(data.getField("segments"), lit(0)).getField("rules"))
      .otherwise(data.getField("rules"))
    // the zero's fields are declared non-nullable, so no partial result
    // may be null: a null rule flag counts as false, as in existsAny
    aggregate(coalesce(rules, noRules),
      struct(pbFlagFields.map { case (_, f) => lit(false).as(f) }: _*),
      (acc, rule) => struct(pbFlagFields.map { case (which, f) =>
        (acc.getField(f) || coalesce(ruleFlag(rule, which), lit(false))).as(f)
      }: _*))
  }

  /** The feature-set pb scan with its VALUE-based level fallback:
    * edge level (0), replaced wholesale by profile level (1) when all
    * of pb/css/nvs are false (`powerbi_main_fun.py:1999-2003,
    * 2018-2022`).
    */
  def pbFlagsWithFallback(stack: Column, segmented: Column): Column =
    bind(pbFlags(stack, 0, segmented)) { e =>
      val useProfile = !e.getField("pb_via_gw") && !e.getField("css_via_gw") &&
        !e.getField("nvs_via_gw")
      when(useProfile, pbFlags(stack, 1, segmented)).otherwise(e)
    }

  // -------------------------------------------------------- firewall 3.x

  /** `process_fw` for one level: struct(enabled, in_bool, out_bool,
    * rules_num, stateful). `enabled`/`stateful` stay NULL when the
    * key is absent (the reference's None).
    */
  def fwStats(stack: Column, levelIdx: Int): Column = {
    val fw = module(stack, levelIdx, "firewall").getField("data")
    // null segments array → null transform → null sum → 0 (absent key)
    val outCount = coalesce(
      Nested.arraySum(
        transform(fw.getField("segments"),
          s => coalesce(size(s.getField("outbound")), lit(0))), lit(0)),
      lit(0))
    val inCount = coalesce(size(fw.getField("inbound")), lit(0))
    struct(
      fw.getField("firewall_enabled").as("enabled"),
      (inCount > 0).as("in_bool"),
      (outCount > 0).as("out_bool"),
      (outCount + inCount).as("rules_num"),
      fw.getField("stateful_firewall_enabled").as("stateful"))
  }

  /** `update_segment_firewall` (3.x stacks): NULL-coalesced
    * enabled/stateful with false default, OR'd in/out bools, SUMMED
    * rule counts across both levels.
    */
  def segmentFirewallAttrs(stack: Column): Column = {
    val e = fwStats(stack, 0)
    val p = fwStats(stack, 1)
    struct(
      coalesce(e.getField("enabled"), p.getField("enabled"), lit(false))
        .as("firewall_edge_specific"),
      (coalesce(e.getField("in_bool"), lit(false)) ||
        coalesce(p.getField("in_bool"), lit(false))).as("firewall_rules_in_bool"),
      (coalesce(e.getField("out_bool"), lit(false)) ||
        coalesce(p.getField("out_bool"), lit(false))).as("firewall_rules_out_bool"),
      (coalesce(e.getField("rules_num"), lit(0)) +
        coalesce(p.getField("rules_num"), lit(0))).as("firewall_rules_num"),
      coalesce(e.getField("stateful"), p.getField("stateful"), lit(false))
        .as("stateful_firewall"))
  }

  // ----------------------------------------------------------- snmpv3

  /** `snmpv3_status` (`powerbi_main_fun.py:2264-2305`): the
    * edge-specific deviceSettings answers when it HAS an `snmp` key
    * (`.get('enabled') == True`, so null ⇒ false); otherwise the first
    * non-edge-specific level's deviceSettings is consulted the same
    * way — key-presence-based fallback, distinct from both the
    * null-based and value-based fallbacks elsewhere.
    */
  def snmpv3Enabled(stack: Column): Column = {
    def ds(entry: Column): Column =
      Nested.moduleByName(entry.getField("modules"), "name", "deviceSettings")
        .getField("data")
    val edgeDs = ds(get(filter(stack,
      l => l.getField("name") === "Edge Specific Profile"), lit(0)))
    val profDs = ds(get(filter(stack,
      l => l.getField("name") =!= "Edge Specific Profile"), lit(0)))
    def enabled(d: Column): Column =
      coalesce(d.getField("snmp").getField("snmpv3").getField("enabled") === true,
        lit(false))
    when(edgeDs.getField("snmp").isNotNull, enabled(edgeDs))
      .when(profDs.getField("snmp").isNotNull, enabled(profDs))
      .otherwise(lit(false))
  }

  /** The full feature-set derivation of `update_license_and_link_usage`
    * (`powerbi_main_fun.py:1981-2035`): b2b from the Edge-Specific
    * controlPlane, pb/css/nvs from the QOS scan with value-based level
    * fallback, both read per [[isSegmented]], then the
    * Premium/Enterprise elif chain. One struct column per edge
    * document — the whole config analysis is a projection.
    */
  def featureSetFromStack(stack: Column): Column = {
    val segmented = isSegmented(stack)
    bind(struct(b2bFlags(stack, segmented).as("b2b"),
        pbFlagsWithFallback(stack, segmented).as("pb"))) { flags =>
      val (b2b, pb) = (flags.getField("b2b"), flags.getField("pb"))
      struct(
        Seq("b2b_via_gw", "b2b_via_hub").map(f => b2b.getField(f).as(f)) ++
          pbFlagFields.map { case (_, f) => pb.getField(f).as(f) } :+
          License.featureSet(
            b2b.getField("b2b_via_gw"), pb.getField("pb_via_gw"),
            pb.getField("css_via_gw"), pb.getField("nvs_via_gw"))
            .as("feature_set"): _*)
    }
  }

  // ------------------------------------------------------ controlPlane b2b

  /** B2B VPN flags (`update_license_and_link_usage:1981-2024`): from
    * the stack entry NAMED "Edge Specific Profile" (not positional),
    * controlPlane module; segmented (3.x) stacks consult
    * segments[0].vpn (requires enabled && edgeToEdge), 2.x the flat
    * vpn (edgeToEdge only); useCloudGateway picks gw vs hub. Returns
    * struct(b2b_via_gw, b2b_via_hub).
    */
  def b2bFlags(stack: Column, segmented: Column): Column = {
    val edgeSpecific = get(filter(stack,
      l => l.getField("name") === "Edge Specific Profile"), lit(0))
    val cp = Nested.moduleByName(edgeSpecific.getField("modules"), "name",
      "controlPlane").getField("data")
    val vpn = when(segmented,
        get(cp.getField("segments"), lit(0)).getField("vpn"))
      .otherwise(cp.getField("vpn"))
    bind(vpn) { v =>
      val active = coalesce(v.getField("edgeToEdge"), lit(false)) &&
        (!segmented || coalesce(v.getField("enabled"), lit(false)))
      val useGw = coalesce(
        v.getField("edgeToEdgeDetail").getField("useCloudGateway"), lit(false))
      struct(
        (active && useGw).as("b2b_via_gw"),
        (active && !useGw).as("b2b_via_hub"))
    }
  }
}
